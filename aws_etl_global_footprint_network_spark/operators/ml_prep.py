"""Training-data preparation operators over ``documents`` ([EXT] —
LLM-pipeline surface beyond the reference, per the build brief):
TF-IDF term scoring, deterministic train/test splitting, and near-dup
cluster resolution (connected components over verified pairs).

Scale posture: TF-IDF is two shuffles (term-frequency groupBy +
document-frequency groupBy) and one vocab join — no broadcast of the
vocabulary, which at 100 TB does not fit a broadcast. The split is a
map-only md5 bucket. Connected components is the standard Pregel-style
min-label propagation: O(diameter) join+groupBy rounds over the edge
list, with lineage cut per round (localCheckpoint locally; a real
cluster job checkpoints to durable storage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions import kernels
from aws_etl_global_footprint_network_spark.functions.cache import cut_lineage
from aws_etl_global_footprint_network_spark.functions.compat import (
    round_compat,
    round_compat_np,
)
from aws_etl_global_footprint_network_spark.functions.hashing import md5_hash60, md5_hash60_sql
from aws_etl_global_footprint_network_spark.functions.text import tokens, tokens_sql
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata, spread

TFIDF_TOP = 3
TRAIN_PCT = 80


@register(
    "tfidf_top_terms",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({tokens_sql('text')}) AS token FROM documents),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT t.doc_id, t.token, t.tf,
             ROUND(t.tf * (ln((n.n + 1.0) / (d.df + 1.0)) + 1.0) * 1e6, 0) / 1e6
               AS score
      FROM tf t JOIN df d USING (token) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, token, tf, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, token) AS rank
      FROM scored)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, token,
           CAST(tf AS BIGINT) AS tf, score, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {TFIDF_TOP}
    """,
    f"TF-IDF top-{TFIDF_TOP} terms per document (smoothed idf);"
    " ranking runs on the ROUNDED score so both engines order"
    " identically despite last-ulp ln() differences",
    tags=("text", "mlprep"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two shuffles (tf, df) + one token-keyed join; the corpus size N
    enters as a broadcast 1-row aggregate, the same scalar-subquery
    plan as acctbal_vs_global_avg. The vocabulary join is deliberately
    NOT broadcast: at real scale the vocab is larger than a broadcast
    budget, and Catalyst will still pick broadcast on its own below
    the threshold.

    The per-document top-{TFIDF_TOP} is a grouped TOP-K AGGREGATE
    (collect_list -> sort_array -> slice, then posexplode for the
    rank), not a row_number window: a window must shuffle AND
    fully sort the scored relation on (doc_id, score) before
    discarding all but {TFIDF_TOP} rows per document, while the
    aggregate hash-groups, sorts only each document's ~|vocab| entries
    in-memory, and is partial-combinable map-side. Ordering is pinned
    by the (-score, token) struct key — identical to the SQL's
    (score DESC, token) with the rounded score, so ranks agree
    cross-engine. sf1 A/B, one warm session, 4 alternating rounds
    under host noise: 4.18/3.10/3.09/3.23 s -> 3.32/2.70/3.94/3.15 s
    — a ~10% win in minima, kept primarily for the scale posture
    (the tokenize + tf/df aggregates dominate at this SF; the
    eliminated full sort is what would dominate at 1000x)."""
    d = spread(read_testdata(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    idf = F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "token", "tf",
            round_compat(F.col("tf") * idf, 6).alias("score"),
        )
    )
    entry = F.struct(
        (-F.col("score")).alias("ns"),
        F.col("token").alias("token"),
        F.col("tf").alias("tf"),
        F.col("score").alias("score"),
    )
    top = scored.groupBy("doc_id").agg(
        F.slice(F.sort_array(F.collect_list(entry)), 1, TFIDF_TOP).alias("top")
    )
    return top.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.posexplode("top").alias("pos", "e"),
    ).select(
        "doc_id",
        F.col("e.token").alias("token"),
        F.col("e.tf").cast("bigint").alias("tf"),
        F.col("e.score").alias("score"),
        (F.col("pos") + 1).cast("int").alias("rank"),
    )


@register(
    "train_test_split_hash",
    f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST({md5_hash60_sql("('split|' || doc_id::VARCHAR)")} % 100 AS INT)
             AS bucket,
           CASE WHEN {md5_hash60_sql("('split|' || doc_id::VARCHAR)")} % 100
                     < {TRAIN_PCT}
                THEN 'train' ELSE 'test' END AS split
    FROM documents
    """,
    f"deterministic {TRAIN_PCT}/{100 - TRAIN_PCT} train/test split via"
    " salted md5 bucket — stable across runs, engines, and cluster"
    " sizes (no RNG state)",
    tags=("mlprep",),
)
def train_test_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only: the split of a document is a pure function of its id,
    so re-running the pipeline (or running it on a different cluster
    layout) assigns every document to the same side — the property
    sample()/rand() cannot give. The 'split|' salt decouples this
    bucketing from any other md5 bucketing on the same key."""
    d = read_testdata(spark, sf_dir, "documents")
    bucket = md5_hash60(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))) % 100
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        bucket.cast("int").alias("bucket"),
        F.when(bucket < TRAIN_PCT, "train").otherwise("test").alias("split"),
    )


@register(
    "embedding_quantize_stats",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    rng AS (
      SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx,
             (list_max(e) - list_min(e)) / 255.0 AS scale
      FROM v),
    err AS (
      SELECT vec_id, mn, mx, scale,
             list_transform(e,
               x -> abs(x - (mn + round((x - mn) / scale) * scale))) AS errs
      FROM rng WHERE scale > 0)
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           ROUND(mn * 1e6, 0) / 1e6 AS v_min,
           ROUND(mx * 1e6, 0) / 1e6 AS v_max,
           ROUND(scale * 1e8, 0) / 1e8 AS scale,
           ROUND(list_max(errs) * 1e8, 0) / 1e8 AS max_abs_err,
           ROUND(list_sum(errs) / len(errs) * 1e8, 0) / 1e8 AS mean_abs_err
    FROM err
    """,
    "int8 scalar quantization stats per embedding (scale + max/mean"
    " reconstruction error) — the storage-compression sizing pass for"
    " an embedding corpus",
    tags=("similarity", "mlprep"),
)
def embedding_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric int8 quantization q = round((x-min)/scale): a 64-dim
    float32 vector drops 4x to 64 bytes, which at 10^10 embeddings is
    the difference between a corpus that fits the cluster and one that
    doesn't. Map-only (one pass, no shuffle); the reconstruction-error
    columns are what an index designer reads to pick int8 vs float16.
    Integer-grid round() agrees between engines (both half-away from
    zero for positive operands); fractional outputs use the scaled
    round_compat form."""
    from pyspark.sql import types as T  # noqa: F401

    emb = spread(read_testdata(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    rng = emb.select(
        "vec_id",
        "e",
        F.array_min("e").alias("mn"),
        F.array_max("e").alias("mx"),
        ((F.array_max("e") - F.array_min("e")) / F.lit(255.0)).alias("scale"),
    ).filter(F.col("scale") > 0)
    dq = lambda x: F.col("mn") + F.round((x - F.col("mn")) / F.col("scale"), 0) * F.col("scale")  # noqa: E731
    errs = F.transform("e", lambda x: F.abs(x - dq(x)))
    withe = rng.select("vec_id", "mn", "mx", "scale", errs.alias("errs"))
    return withe.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        round_compat("mn", 6).alias("v_min"),
        round_compat("mx", 6).alias("v_max"),
        round_compat("scale", 8).alias("scale"),
        round_compat(F.array_max("errs"), 8).alias("max_abs_err"),
        round_compat(
            F.aggregate("errs", F.lit(0.0), lambda a, x: a + x) / F.size("errs"), 8
        ).alias("mean_abs_err"),
    )


def _local_components(nodes, ui, vi):
    """Driver-side union-find (path-halving) over an indexed edge list
    (``kernels.edge_index``); returns each node's min-label root.
    Plain Python at ~1M unions/s: a verified near-dup pair graph is a
    tiny fraction of the corpus (sf1: 8 edges), while every Pregel
    round costs 2 joins + a groupBy + a convergence count + a lineage
    cut ~= 1-2 s of fixed job machinery regardless of size."""
    import numpy as np

    parent = np.arange(len(nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in zip(ui.tolist(), vi.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min-index root wins
    # explicit int64: np.array([]) defaults to float64, and an empty
    # edge list (a clean corpus) must yield an empty frame, not an
    # IndexError from float indices
    roots = np.fromiter(
        (find(i) for i in range(len(nodes))), dtype=np.int64, count=len(nodes)
    )
    # nodes is sorted ascending, so the min-index root IS the
    # min-node-id label of the component
    return nodes[roots]


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Min-label propagation over an undirected edge list
    ``(u, v)`` -> ``(node, cluster_id)`` where cluster_id is the
    smallest node id in the component.

    Width dispatch (round 12): ``kernels.bounded_collect`` pulls the
    edge list as one Arrow table when it holds at most
    ``kernels.LOCAL_EDGE_CAP`` edges (tests force the distributed path
    by patching that cap below the edge count). The
    components then resolve with a driver-side union-find and ship
    back as one Arrow batch: identical labels, none of the per-round
    job machinery that dominates tiny graphs (sf1's 8-edge graph
    spent ~8 s in the loop, ~0.1 s local). Past the cap the
    distributed path below runs.

    Distributed path — Pregel-style: each round every node adopts the
    minimum label among itself, its neighbours, AND its current
    label's label (a pointer-jumping shortcut that halves remaining
    path lengths, so convergence is O(log diameter) rounds rather
    than O(diameter) — a 1000-hop chain resolves in ~10 rounds).
    Runs to convergence (no label changed); ``max_iter`` is a safety
    bound and exceeding it RAISES rather than silently returning
    partially-merged (wrong) clusters. Each round is two joins + one
    groupBy; ``localCheckpoint`` cuts the growing lineage (on a
    cluster: ``checkpoint`` to durable storage). The per-round
    convergence count is a driver-side scalar — one long per round,
    the same bounded pattern as any Pregel superstep barrier."""
    spark = edges.sparkSession
    # node-id type is preserved (long doc ids here, string names in
    # entity resolution): numpy's sort order on int64 and on Python
    # strings both match Spark's F.least / binary-collation LEAST,
    # so the min-label contract is identical on either branch
    node_t = edges.schema["u"].dataType.simpleString()
    probe = kernels.bounded_collect(
        edges.select("u", "v"), kernels.LOCAL_EDGE_CAP, "cc_edges"
    )
    if probe is not None:
        nodes, ui, vi = kernels.edge_index(probe)
        return kernels.local_frame(
            spark,
            {"node": nodes, "cluster_id": _local_components(nodes, ui, vi)},
            f"node {node_t}, cluster_id {node_t}",
        )
    # checkpointed once: the symmetric edge list is joined in EVERY
    # round, and each round's eager localCheckpoint would re-execute
    # the caller's (possibly expensive) edge pipeline otherwise
    sym = (
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionByName(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .transform(cut_lineage)
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .transform(cut_lineage)
    )
    for _ in range(max_iter):
        neigh_min = (
            sym.join(labels, sym.src == labels.node)
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = labels.join(
            neigh_min, labels.node == neigh_min.node2, "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce("nlabel", F.col("label"))
            ).alias("label"),
        )
        # Pointer jump: adopt the (possibly smaller) label of the node
        # our label points at.  Labels are always node ids, so the
        # lookup is a self-join on the same label table.
        lbl = stepped.select(
            F.col("node").alias("l_node"), F.col("label").alias("l_label")
        )
        new_labels = (
            stepped.join(lbl, stepped.label == lbl.l_node, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("l_label", F.col("label"))
                ).alias("label"),
            )
            .transform(cut_lineage)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select("node", F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def _clusters_oracle() -> str:
    from aws_etl_global_footprint_network_spark.operators.dedup import _ngram_oracle

    return f"""
    WITH RECURSIVE
    pairs AS ({_ngram_oracle()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        WHERE e.v <> r.u)
    SELECT CAST(u AS BIGINT) AS doc_id,
           CAST(LEAST(u, MIN(v)) AS BIGINT) AS cluster_id
    FROM reach GROUP BY u
    """


@register(
    "dedup_clusters",
    _clusters_oracle(),
    "near-dup cluster resolution: connected components (min-label"
    " propagation) over the verified n-gram Jaccard pairs; oracle is a"
    " recursive-CTE transitive closure",
    tags=("dedup", "mlprep", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step after pair detection in every dedup pipeline: pairs
    chain (A~B, B~C => {{A,B,C}}), and one representative per CLUSTER
    must be kept, not one per pair. Runs on the same bounded
    ground-truth pair set as dedup_ngram_jaccard; on the production
    path the input is dedup_minhash_lsh's verified pairs — same edge
    schema, same algorithm."""
    from aws_etl_global_footprint_network_spark.operators.dedup import (
        dedup_ngram_jaccard,
    )

    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    return connected_components(pairs).select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
    )


PR_ITERS = 3
PR_DAMP = 0.85
PR_ROUND = 8


def _pagerank_oracle() -> str:
    from aws_etl_global_footprint_network_spark.operators.dedup import _ngram_oracle

    rounds = []
    prev = "r0"
    for k in range(1, PR_ITERS + 1):
        rounds.append(
            f"""r{k} AS (
      SELECT nd.node,
             ROUND((0.15 / (SELECT c FROM n) + {PR_DAMP} * COALESCE(s.contrib, 0.0))
                   * 1e{PR_ROUND}, 0) / 1e{PR_ROUND} AS r
      FROM nodes nd LEFT JOIN (
        SELECT e.v AS node, SUM(p.r / d.deg) AS contrib
        FROM edges e
        JOIN {prev} p ON p.node = e.u
        JOIN deg d ON d.node = e.u
        GROUP BY e.v) s ON s.node = nd.node)"""
        )
        prev = f"r{k}"
    chain = ",\n    ".join(rounds)
    return f"""
    WITH pairs AS ({_ngram_oracle()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    deg AS (SELECT u AS node, COUNT(*) AS deg FROM edges GROUP BY u),
    n AS (SELECT COUNT(*) AS c FROM nodes),
    r0 AS (SELECT node, ROUND(1.0 / (SELECT c FROM n) * 1e{PR_ROUND}, 0)
                        / 1e{PR_ROUND} AS r FROM nodes),
    {chain}
    SELECT CAST(node AS BIGINT) AS doc_id, r AS pagerank FROM r{PR_ITERS}
    """


@register(
    "pagerank_neardup_graph",
    _pagerank_oracle(),
    f"fixed-{PR_ITERS}-iteration PageRank over the verified near-dup"
    " graph — the second iterative distributed algorithm, expressible"
    " as chained CTEs in the oracle because the iteration count is"
    " fixed",
    tags=("mlprep", "iterative", "graph"),
)
def pagerank_neardup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power iteration as repeated join+groupBy (each round: edges x
    ranks join, per-target sum, damped update) — the Pregel shape
    again, with per-round rounding on BOTH engines so their different
    per-group summation orders cannot drift the hash. Fixed iteration
    count keeps the oracle declarative; a production run iterates to
    an epsilon with lineage checkpointing every few rounds, exactly
    like connected_components.

    No per-round lineage cut (round-12 A/B, warm sf1, alternating):
    cut_lineage after every rank update cost 5.6 s vs 0.9 s without —
    the localCheckpoint materialization is the whole price, and with
    a FIXED 3-round loop over an already-checkpointed edge table the
    uncut plan is 3 levels deep, nowhere near the growth that forces
    cuts in unbounded loops (kcore's 2^rounds lesson still holds
    there; re-add a cut every few rounds if PR_ITERS grows).

    Width dispatch (round 13, the connected_components precedent):
    ``kernels.bounded_collect`` pulls the verified pair set when it
    holds at most ``kernels.LOCAL_EDGE_CAP`` pairs, and the 3-round
    power iteration is a few numpy array ops on the driver — the
    per-round 2-join + groupBy + crossJoin machinery (and the edge
    localCheckpoint) costs ~2 s of fixed job latency regardless of
    graph size, while this graph is a tiny fraction of the corpus by
    construction. Per-round ranks are rounded at 1e-8 on every path
    (round_compat mirror: HALF_UP on the exact binary value), which
    is the SAME grain that already pins the Spark-vs-DuckDB
    contribution-summation order — the driver path adds a third
    summation order under the same absorption. Past the cap the
    distributed loop below runs unchanged."""
    from aws_etl_global_footprint_network_spark.operators.dedup import (
        dedup_ngram_jaccard,
    )

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    probe = kernels.bounded_collect(
        pairs.toDF("u", "v"), kernels.LOCAL_EDGE_CAP, "pagerank_edges"
    )
    if probe is not None:
        import numpy as np

        nodes, ai, bi = kernels.edge_index(probe)
        # symmetric edge list (u -> v), exactly the distributed shape
        ui = np.concatenate([ai, bi])
        vi = np.concatenate([bi, ai])
        n = len(nodes)
        if n == 0:
            return kernels.local_frame(spark, [], "doc_id bigint, pagerank double")
        deg = np.bincount(ui, minlength=n).astype(np.float64)
        r = round_compat_np(np.full(n, 1.0 / n), PR_ROUND)
        for _ in range(PR_ITERS):
            contrib = np.zeros(n)
            np.add.at(contrib, vi, r[ui] / deg[ui])
            r = round_compat_np(0.15 / n + PR_DAMP * contrib, PR_ROUND)
        return kernels.local_frame(
            spark, {"doc_id": nodes, "pagerank": r}, "doc_id bigint, pagerank double"
        )
    # checkpointed once: every power-iteration round's eager
    # localCheckpoint would otherwise re-execute the whole verified-
    # pair pipeline (shingle self-join + Jaccard verify) for the edge
    # join AND the degree join — measured 17.8 s of builder time at
    # sf0.1 from recomputation alone, ~3 s with the graph pinned
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
        .transform(cut_lineage)
    )
    nodes = edges.select(F.col("u").alias("node")).distinct()
    deg = edges.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    n = nodes.agg(F.count(F.lit(1)).alias("c"))
    r = nodes.crossJoin(F.broadcast(n)).select(
        "node", round_compat(F.lit(1.0) / F.col("c"), PR_ROUND).alias("r")
    )
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(r.withColumnRenamed("node", "u2"), F.col("u") == F.col("u2"))
            .join(
                deg.withColumnRenamed("node", "u3").withColumnRenamed("deg", "d"),
                F.col("u") == F.col("u3"),
            )
            .groupBy(F.col("v").alias("cnode"))
            .agg(F.sum(F.col("r") / F.col("d")).alias("contrib"))
        )
        r = (
            nodes.join(contrib, nodes.node == contrib.cnode, "left")
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                round_compat(
                    F.lit(0.15) / F.col("c")
                    + F.lit(PR_DAMP) * F.coalesce("contrib", F.lit(0.0)),
                    PR_ROUND,
                ).alias("r"),
            )
        )
    return r.select(
        F.col("node").cast("bigint").alias("doc_id"), F.col("r").alias("pagerank")
    )


# Corpus-pipeline policy constants (the composed query below).
PIPE_MIN_TOKENS = 20
PIPE_LANGS = ("de", "en", "es", "fr")


def _corpus_pipeline_oracle() -> str:
    from aws_etl_global_footprint_network_spark.operators.dedup import (
        _minhash_oracle,
    )

    langs = ", ".join(f"'{l}'" for l in PIPE_LANGS)
    split_bucket = md5_hash60_sql(
        "('split|' || doc_id::VARCHAR)"
    )
    return f"""
    WITH quality AS (
      SELECT doc_id, lang, source, text,
             len({tokens_sql('text')}) AS n_tokens
      FROM documents
      WHERE len({tokens_sql('text')}) >= {PIPE_MIN_TOKENS}
        AND lang IN ({langs})),
    exact AS (
      SELECT q.* FROM quality q
      JOIN (SELECT md5(text) AS sig, MIN(doc_id) AS keeper
            FROM quality GROUP BY md5(text)) k
        ON md5(q.text) = k.sig AND q.doc_id = k.keeper),
    neardup AS (
      SELECT DISTINCT p.doc_b FROM ({_minhash_oracle()}) p
      WHERE p.doc_a IN (SELECT doc_id FROM exact)),
    survivors AS (
      SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_b FROM neardup))
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source,
           CAST(n_tokens AS INT) AS n_tokens,
           CASE WHEN {split_bucket} % 100 < {TRAIN_PCT}
                THEN 'train' ELSE 'test' END AS split
    FROM survivors
    """


@register(
    "training_corpus_pipeline",
    _corpus_pipeline_oracle(),
    "the composed end-to-end prep pipeline: quality gate (min token"
    " count) -> language filter -> exact dedup (min-id per content"
    " hash) -> near-dup drop (MinHash-LSH pairs whose lower id"
    " survived) -> deterministic train/test split — one declarative"
    " plan, every stage reusing the standalone operators' semantics",
    tags=("mlprep", "dedup", "text", "headline"),
)
def training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What a user actually runs before training: the whole prep
    funnel as ONE Catalyst plan (filters push into the scan; the
    dedup joins reuse the banded LSH machinery, never all-pairs).
    Near-dup policy is one-pass lowest-id-canonical: a doc is dropped
    iff a verified pair links it to a lower-id doc that survived the
    exact-dedup stage — identical, order-independent semantics in
    both engines (transitive closure is dedup_clusters' job)."""
    from aws_etl_global_footprint_network_spark.operators.dedup import (
        dedup_minhash_lsh,
    )

    d = read_testdata(spark, sf_dir, "documents")
    quality = (
        d.withColumn("n_tokens", F.size(tokens("text")))
        .filter(
            (F.col("n_tokens") >= PIPE_MIN_TOKENS)
            & F.col("lang").isin(*PIPE_LANGS)
        )
    )
    keepers = quality.groupBy(F.md5("text").alias("sig")).agg(
        F.min("doc_id").alias("keeper")
    )
    exact = quality.join(
        keepers,
        (F.md5(quality["text"]) == keepers["sig"])
        & (quality["doc_id"] == keepers["keeper"]),
        "inner",
    ).select("doc_id", "lang", "source", "n_tokens")
    pairs = dedup_minhash_lsh(spark, sf_dir)
    dropped = (
        pairs.join(
            exact.select(F.col("doc_id").alias("doc_a")), "doc_a", "leftsemi"
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    survivors = exact.join(dropped, "doc_id", "left_anti")
    bucket = (
        md5_hash60(F.concat(F.lit("split|"), F.col("doc_id").cast("string")))
        % 100
    )
    return survivors.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "lang",
        "source",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.when(bucket < TRAIN_PCT, "train").otherwise("test").alias("split"),
    )


def _contamination_oracle() -> str:
    from aws_etl_global_footprint_network_spark.operators.dedup import (
        _minhash_oracle,
    )

    bucket_a = md5_hash60_sql("('split|' || doc_a::VARCHAR)")
    bucket_b = md5_hash60_sql("('split|' || doc_b::VARCHAR)")
    return f"""
    WITH pairs AS ({_minhash_oracle()}),
    labeled AS (
      SELECT doc_a, doc_b, jaccard,
             CASE WHEN {bucket_a} % 100 < {TRAIN_PCT}
                  THEN 'train' ELSE 'test' END AS split_a,
             CASE WHEN {bucket_b} % 100 < {TRAIN_PCT}
                  THEN 'train' ELSE 'test' END AS split_b
      FROM pairs)
    SELECT CASE WHEN split_a = 'train' THEN doc_a ELSE doc_b END
             AS train_doc,
           CASE WHEN split_a = 'train' THEN doc_b ELSE doc_a END
             AS test_doc,
           jaccard
    FROM labeled WHERE split_a <> split_b
    """


@register(
    "split_contamination_check",
    _contamination_oracle(),
    "train/test contamination audit: near-duplicate pairs (MinHash-LSH"
    " verified) that CROSS the split boundary — each row is a test"
    " document whose near-twin leaked into train; the decontamination"
    " query every eval pipeline runs before trusting its numbers",
    tags=("mlprep", "dedup", "checks"),
)
def split_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition of two deterministic primitives: the banded
    MinHash-LSH near-dup pairs and the salted-md5 split assignment —
    so the contamination verdict is reproducible across engines and
    cluster layouts (no RNG anywhere). One extra map over the pair
    set; scale posture identical to dedup_minhash_lsh."""
    from aws_etl_global_footprint_network_spark.operators.dedup import (
        dedup_minhash_lsh,
    )

    pairs = dedup_minhash_lsh(spark, sf_dir)

    def bucket(col: str):
        return (
            md5_hash60(F.concat(F.lit("split|"), F.col(col).cast("string")))
            % 100
        )

    labeled = pairs.select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.when(bucket("doc_a") < TRAIN_PCT, "train").otherwise("test").alias(
            "split_a"
        ),
        F.when(bucket("doc_b") < TRAIN_PCT, "train").otherwise("test").alias(
            "split_b"
        ),
    ).filter(F.col("split_a") != F.col("split_b"))
    return labeled.select(
        F.when(F.col("split_a") == "train", F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("train_doc"),
        F.when(F.col("split_a") == "train", F.col("doc_b"))
        .otherwise(F.col("doc_a"))
        .alias("test_doc"),
        "jaccard",
    )


# Smoothed target (mean) encoding: the Bayesian-average shrinkage
# every tabular-ML pipeline applies to high-cardinality categoricals.
TARGET_ENC_SMOOTHING = 10


@register(
    "target_encode_priority",
    f"""
    WITH g AS (SELECT AVG(o_totalprice) AS gm FROM orders),
    cat AS (
      SELECT o_orderpriority, COUNT(*) AS n, AVG(o_totalprice) AS cat_mean
      FROM orders GROUP BY o_orderpriority)
    SELECT o_orderpriority,
           CAST(n AS BIGINT) AS n,
           ROUND(cat_mean * 1e4, 0) / 1e4 AS cat_mean,
           ROUND((n * cat_mean + {TARGET_ENC_SMOOTHING} * g.gm)
                 / (n + {TARGET_ENC_SMOOTHING}) * 1e4, 0) / 1e4 AS encoded
    FROM cat CROSS JOIN g
    """,
    "smoothed target encoding of order priority against order value:"
    f" Bayesian shrinkage toward the global mean (m={TARGET_ENC_SMOOTHING})"
    " — the mean-encoding feature transform for high-cardinality"
    " categoricals",
    tags=("mlprep", "agg"),
)
def target_encode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One groupBy over the fact table plus a 1-row global-mean
    aggregate broadcast into the shrinkage expression — at 100 TB the
    encoder table (one row per category) is the broadcastable output
    a feature store persists. Means are rounded at 1e-4 on both sides
    (engine summation orders differ)."""
    o = read_testdata(spark, sf_dir, "orders")
    gm = o.agg(F.avg("o_totalprice").alias("gm"))
    cat = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("o_totalprice").alias("cat_mean"),
    )
    enc = (F.col("n") * F.col("cat_mean") + TARGET_ENC_SMOOTHING * F.col("gm")) / (
        F.col("n") + TARGET_ENC_SMOOTHING
    )
    return cat.crossJoin(F.broadcast(gm)).select(
        "o_orderpriority",
        F.col("n").cast("bigint").alias("n"),
        round_compat("cat_mean", 4).alias("cat_mean"),
        round_compat(enc, 4).alias("encoded"),
    )


# Curriculum phases: easy -> hard quartiles by a per-doc difficulty
# proxy (mean token length — longer tokens ~ rarer/harder text).
CURRICULUM_PHASES = 4


@register(
    "curriculum_schedule",
    f"""
    WITH scored AS (
      SELECT doc_id,
             n_chars * 1.0 / len({tokens_sql('text')}) AS difficulty,
             {md5_hash60_sql("('curr|' || doc_id::VARCHAR)")} AS shuffle_key
      FROM documents
      WHERE len({tokens_sql('text')}) > 0)
    SELECT doc_id,
           ROUND(difficulty * 1e6, 0) / 1e6 AS difficulty,
           CAST(NTILE({CURRICULUM_PHASES})
                OVER (ORDER BY difficulty, doc_id) AS INT) AS phase,
           CAST(shuffle_key AS BIGINT) AS shuffle_key
    FROM scored
    """,
    f"curriculum ordering for training: documents bucketed into"
    f" {CURRICULUM_PHASES} easy->hard phases by exact quartile of a"
    " difficulty proxy (mean token length), with a deterministic md5"
    " shuffle key for intra-phase ordering — the data-ordering half of"
    " curriculum learning schedules",
    tags=("mlprep", "ranking", "headline"),
)
def curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phases come from :func:`adaptive_ntile` (windowed under the measured 200k-row cap;
    past it range repartition +
    per-partition rank + broadcast offsets), NOT an unpartitioned
    NTILE window. Intra-phase order is delivered as a md5 shuffle KEY
    rather than a materialised position: consumers sort by (phase,
    shuffle_key, doc_id), which any engine can do scale-out, whereas a
    row_number per phase would funnel each phase through one task.
    doc_id tie-breaks the quartile boundary exactly as in the oracle."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        adaptive_ntile,
    )

    d = read_testdata(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        (F.col("n_chars") / F.size(tokens("text"))).alias("difficulty"),
        md5_hash60(F.concat(F.lit("curr|"), F.col("doc_id").cast("string"))).alias(
            "shuffle_key"
        ),
    ).filter(F.size(tokens("text")) > 0)
    scope = CacheScope("curriculum_schedule")
    bucketed = adaptive_ntile(
        scored,
        [F.col("difficulty"), F.col("doc_id")],
        CURRICULUM_PHASES,
        "phase",
        scope,
    )
    return bucketed.select(
        "doc_id",
        round_compat("difficulty", 6).alias("difficulty"),
        F.col("phase").cast("int").alias("phase"),
        F.col("shuffle_key").cast("bigint").alias("shuffle_key"),
    )


# --------------------------------------------------------------------
# Decile lift / gains table (model-eval readout)
# --------------------------------------------------------------------

LIFT_BUCKETS = 10


@register(
    "decile_lift_table",
    f"""
    WITH resp AS (
      SELECT c.c_custkey,
             CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS score,
             CASE WHEN o.o_custkey IS NULL THEN 0 ELSE 1 END AS responder
      FROM customer c
      LEFT JOIN (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderpriority = '1-URGENT') o
        ON o.o_custkey = c.c_custkey),
    d AS (
      SELECT NTILE({LIFT_BUCKETS}) OVER (ORDER BY score DESC, c_custkey)
               AS decile,
             responder
      FROM resp),
    g AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(responder) AS BIGINT) AS responders
      FROM d GROUP BY decile),
    tot AS (
      SELECT SUM(n_customers) AS n_all, SUM(responders) AS r_all FROM g)
    SELECT CAST(g.decile AS BIGINT) AS decile, g.n_customers, g.responders,
           ROUND((g.responders * 1.0 / g.n_customers) * 1e6, 0) / 1e6
             AS resp_rate_r6,
           ROUND((SUM(g.responders) OVER (ORDER BY g.decile
                    ROWS UNBOUNDED PRECEDING) * 1.0 / tot.r_all) * 1e6, 0)
             / 1e6 AS cum_capture_r6,
           ROUND(((g.responders * 1.0 / g.n_customers)
                  / (tot.r_all * 1.0 / tot.n_all)) * 1e6, 0) / 1e6
             AS lift_r6
    FROM g CROSS JOIN tot
    """,
    f"decile lift/gains table: customers ranked by balance score into"
    f" {LIFT_BUCKETS} exact deciles, per-decile response rate"
    " (has >= 1 URGENT-priority order), cumulative capture and lift"
    " vs the base rate"
    " — the standard targeting-model evaluation readout",
    tags=("mlprep", "analytics", "agg", "headline"),
)
def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gains-chart shape every targeting/propensity pipeline
    reports (responder = placed at least one URGENT-priority order,
    ~86% base rate on this corpus with real per-decile variation —
    'any order at all' saturates to 100% here). Scale path: decile
    assignment uses
    :func:`adaptive_ntile` (windowed under the measured 200k-row cap;
    past it range repartition + per-partition rank
    + broadcast offsets) — never ``NTILE() OVER (ORDER BY ...)``'s
    single-task global window (the oracle keeps the textbook NTILE,
    hash-identical); the responder flag is one left join against the
    distinct-customer projection of orders; per-decile reduction is
    a {LIFT_BUCKETS}-row table, so the cumulative-capture window and
    the 1-row totals broadcast are driver-scale by construction.
    Ordering carries the key tie-break, so equal scores straddling a
    decile boundary bucket deterministically in both engines. All
    counts are exact integers; the three ratios are single divisions
    rounded 1e-6."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        adaptive_ntile,
    )

    c = read_testdata(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("score"),
    )
    o = (
        read_testdata(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey"))
        .distinct()
    )
    resp = c.join(o, c["c_custkey"] == o["o_custkey"], "left").select(
        "c_custkey",
        "score",
        F.when(F.col("o_custkey").isNull(), F.lit(0))
        .otherwise(F.lit(1))
        .alias("responder"),
    )
    scope = CacheScope("decile_lift_table")
    d = adaptive_ntile(
        resp,
        [F.col("score").desc(), F.col("c_custkey").asc()],
        LIFT_BUCKETS,
        "decile",
        scope,
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("responder").cast("bigint").alias("responders"),
    )
    tot = g.agg(
        F.sum("n_customers").alias("n_all"),
        F.sum("responders").alias("r_all"),
    )
    wo = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    rate = F.col("responders") * 1.0 / F.col("n_customers")
    base = F.col("r_all") * 1.0 / F.col("n_all")
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            "n_customers",
            "responders",
            round_compat(rate, 6).alias("resp_rate_r6"),
            round_compat(
                F.sum("responders").over(wo) * 1.0 / F.col("r_all"), 6
            ).alias("cum_capture_r6"),
            round_compat(rate / base, 6).alias("lift_r6"),
        )
    )


# --------------------------------------------------------------------
# Feature hashing (the hashing trick / HashingVectorizer)
# --------------------------------------------------------------------

FH_DIM = 32


@register(
    "feature_hashing_vectorize",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({tokens_sql('text')}) AS tok FROM documents),
    h AS (
      SELECT doc_id,
             {md5_hash60_sql("('fh|' || tok)")} % {FH_DIM} AS dim,
             CASE WHEN ({md5_hash60_sql("('fhsign|' || tok)")} % 2) = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM tok),
    v AS (
      SELECT doc_id, dim, CAST(SUM(sgn) AS BIGINT) AS weight
      FROM h GROUP BY doc_id, dim)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(dim AS BIGINT) AS dim,
           weight
    FROM v WHERE weight <> 0
    """,
    f"the feature-hashing trick (Weinberger et al. /"
    f" HashingVectorizer): tokens hashed into {FH_DIM} signed"
    " buckets — a fixed-dimension sparse representation with NO"
    " vocabulary table, the unbiased signed variant; sparse"
    " (doc, dim, weight) triples, zero-weight cells dropped",
    tags=("mlprep", "text", "headline"),
)
def feature_hashing_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-free vectorization — the property that matters at
    100 TB: TF-IDF needs a corpus-wide vocabulary build + join, but
    the hashing trick maps each token straight to dim = h(token) mod
    D with a sign bit from an independent hash (Weinberger et al.'s
    unbiased estimator: collisions cancel in expectation instead of
    accumulating), so the whole vectorizer is ONE explode + ONE
    (doc, dim) groupBy — map-side combinable, no second corpus pass,
    no vocabulary broadcast, stable across corpus growth. Hashes are
    the repo's portable md5 primitives, so both engines bucket and
    sign identically; weights are exact integer signed counts.
    Output is sparse triples (<= D non-zero dims per doc)."""
    d = spread(read_testdata(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    dim = md5_hash60(F.concat(F.lit("fh|"), F.col("tok"))) % F.lit(FH_DIM)
    sgn = F.when(
        md5_hash60(F.concat(F.lit("fhsign|"), F.col("tok"))) % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    v = (
        tok.select("doc_id", dim.alias("dim"), sgn.alias("sgn"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("sgn").cast("bigint").alias("weight"))
        .filter(F.col("weight") != 0)
    )
    return v.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("dim").cast("bigint").alias("dim"),
        "weight",
    )
