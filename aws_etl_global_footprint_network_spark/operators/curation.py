"""Training-data curation & warehouse-maintenance operators ([EXT],
round 6): CDC log compaction, file-compaction planning, weighted
sampling without replacement, repetition entropy, an interpolated
bigram LM scorer, hard-negative mining, balanced corpus sharding,
per-source JSD drift, n-gram novelty, SemDeDup semantic dedup, and
rendezvous (HRW) shard affinity.

These extend the LLM-pipeline surface (SURVEY §2.11 [EXT]) with the
operations a 100 TB curation run needs between "raw corpus" and
"training shards". Every operator is a single declarative Catalyst
plan with a DuckDB oracle twin; the shapes are chosen for scale:

- one hash shuffle on the natural key where a shuffle is unavoidable
  (CDC compaction, LM counts),
- bounded windows only (per-year file plans, per-anchor candidate
  pre-reduction),
- global order via TakeOrderedAndProject or the distributed-rank
  recipe (functions.ranking), never an unpartitioned window,
- vocabularies/count tables JOINED, not broadcast (they scale with
  the corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions.cache import CacheScope
from aws_etl_global_footprint_network_spark.functions.compat import round_compat
from aws_etl_global_footprint_network_spark.functions.ranking import (
    adaptive_row_number,
)
from aws_etl_global_footprint_network_spark.functions.text import (
    tokens,
    tokens_sql,
    word_shingles,
    word_shingles_sql,
)
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata, spread

# --- CDC log compaction ---------------------------------------------------
# The synthetic change log: each event is an op on its
# (user_id, event_type) state row; event_id is the globally unique
# change sequence (pinned unique by tests/test_testdata_canary.py —
# lineitem's (orderkey, linenumber) is NOT unique in this corpus and
# would make max_by nondeterministic). A deterministic ~9% of ops are
# deletes.
CDC_DELETE_MOD = 11


@register(
    "cdc_apply_compaction",
    f"""
    WITH log AS (
      SELECT user_id, event_type, event_id AS seq, value AS payload,
             CASE WHEN event_id % {CDC_DELETE_MOD} = 0
                  THEN 'D' ELSE 'U' END AS op
      FROM events)
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_ops,
           CAST(MAX(seq) AS BIGINT) AS last_seq,
           max_by(payload, seq) AS final_value
    FROM log
    GROUP BY user_id, event_type
    HAVING max_by(op, seq) <> 'D'
    """,
    "CDC log compaction: apply an insert/update/delete change stream"
    " (keyed, sequenced) down to final table state — last op per key"
    " wins, a trailing delete tombstones the key. One hash shuffle on"
    " the key via max_by aggregation, no window, no per-key sort: the"
    " Debezium/Delta CDF apply step as a single Catalyst plan",
    tags=("cdc", "merge", "scale", "headline"),
)
def cdc_apply_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction as one aggregation: ``max_by(payload, seq)`` picks
    the latest op's payload with map-side partial aggregation (each
    partition keeps one candidate per key), so the shuffle carries one
    row per (partition, key) — the window formulation (rn=1 on a
    per-key desc sort) shuffles every op. seq (event_id) is globally
    unique, so max_by is deterministic on both engines."""
    ev = read_testdata(spark, sf_dir, "events")
    log = ev.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("seq"),
        F.col("value").alias("payload"),
        F.when(F.col("event_id") % CDC_DELETE_MOD == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return (
        log.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_ops"),
            F.max("seq").cast("bigint").alias("last_seq"),
            F.max_by("payload", "seq").alias("final_value"),
            F.max_by("op", "seq").alias("_final_op"),
        )
        .filter(F.col("_final_op") != "D")
        .drop("_final_op")
    )


# --- File-compaction planning ---------------------------------------------
# One "file" per (ship-year, ship-month) of lineitem; bytes are a
# row-count proxy. Next-fit bin packing: a file opens a new output bin
# when the running total before it crosses the target.
COMPACT_ROW_BYTES = 128
COMPACT_TARGET_BYTES = 256 * 1024


@register(
    "file_compaction_plan",
    f"""
    WITH files AS (
      SELECT CAST(year(l_shipdate) AS INT) AS year,
             CAST(month(l_shipdate) AS INT) AS month,
             COUNT(*) * {COMPACT_ROW_BYTES} AS bytes
      FROM lineitem GROUP BY 1, 2),
    planned AS (
      -- FLOOR, not a bare ::BIGINT cast: DuckDB's double->int cast
      -- ROUNDS half-away while Spark's floor truncates
      SELECT year, month, bytes,
             CAST(FLOOR((SUM(bytes) OVER (PARTITION BY year ORDER BY month
                     ROWS UNBOUNDED PRECEDING) - bytes)
                  / {COMPACT_TARGET_BYTES}) AS BIGINT) AS bin
      FROM files)
    SELECT year, CAST(bin AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes,
           CAST(MIN(month) AS INT) AS first_month,
           CAST(MAX(month) AS INT) AS last_month
    FROM planned
    GROUP BY year, bin
    """,
    "small-file compaction planner (Iceberg/Delta OPTIMIZE shape):"
    " per-partition file stats packed into target-sized output groups"
    " by a next-fit cumulative-sum rule — the plan step of a"
    " warehouse-maintenance job, computed with per-partition windows"
    " bounded by files-per-partition (12 here), never a global sort;"
    " all-integer arithmetic, no float hazard",
    tags=("layout", "maintenance", "scale", "headline"),
)
def file_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window partitions by table-partition (year) and orders by
    file position within it — bounded at files-per-partition, which a
    real lakehouse maintenance job also assumes (it plans per
    partition). bin = floor(cum_bytes_before / target) is next-fit:
    deterministic, one pass, and within 2x of optimal bin count (the
    classical next-fit bound) — the same rule Delta's OPTIMIZE file
    grouping applies per partition."""
    li = read_testdata(spark, sf_dir, "lineitem")
    files = li.groupBy(
        F.year("l_shipdate").cast("int").alias("year"),
        F.month("l_shipdate").cast("int").alias("month"),
    ).agg((F.count(F.lit(1)) * COMPACT_ROW_BYTES).alias("bytes"))
    w = (
        Window.partitionBy("year")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    planned = files.withColumn(
        "bin",
        F.floor(
            (F.sum("bytes").over(w) - F.col("bytes")) / COMPACT_TARGET_BYTES
        ),
    )
    return planned.groupBy("year", F.col("bin").cast("int").alias("bin")).agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").cast("bigint").alias("total_bytes"),
        F.min("month").cast("int").alias("first_month"),
        F.max("month").cast("int").alias("last_month"),
    )


# --- Weighted sampling without replacement --------------------------------
# Efraimidis-Spirakis exponential keys: item i with weight w_i gets
# key ln(u_i)/w_i for u_i ~ U(0,1); the k LARGEST keys are an exact
# weighted sample without replacement. u_i comes from a Knuth
# multiplicative hash of the row key — pure integer arithmetic, so
# both engines derive bit-identical u.
WS_K = 100
WS_MULT = 2654435761  # odd -> bijective mod 2^32
WS_MOD = 4_294_967_296


@register(
    "weighted_sample_topk",
    f"""
    WITH keyed AS (
      SELECT o_orderkey, o_totalprice,
             ln((((o_orderkey * {WS_MULT}) % {WS_MOD}) + 1)
                / {WS_MOD + 1}.0) / o_totalprice AS es_key
      FROM orders)
    SELECT o_orderkey, o_totalprice,
           CAST(rank AS INT) AS rank,
           ROUND(es_key * 1e12, 0) / 1e12 AS es_key
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY es_key DESC, o_orderkey)
                      AS rank
          FROM keyed)
    WHERE rank <= {WS_K}
    """,
    f"weighted sampling WITHOUT replacement (Efraimidis-Spirakis"
    f" exponential keys): top-{WS_K} orders by ln(u)/weight with u"
    " from a deterministic integer multiplicative hash — heavier rows"
    " proportionally likelier, no sequential pass, fully reproducible;"
    " executed as TakeOrderedAndProject (distributed partial top-k),"
    " never a global sort",
    tags=("sampling", "mlprep", "scale", "headline"),
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-ES reduces weighted sampling to a plain top-k, which Spark
    executes as per-partition partial top-k merged at the driver —
    the only scale-safe exact form (a rand()-based pass would be
    irreproducible; a global NTILE/sort would single-task). u is
    strictly inside (0,1) by construction ((m+1)/(2^32+1)), so ln is
    finite; keys are generically distinct (the hash is bijective mod
    2^32), and the orderkey tie-break makes the order total. The
    es_key output is rounded to the shared 1e-12 grain; ranking uses
    the raw key — distinct keys differ by many orders of magnitude
    more than a cross-engine ln() ulp."""
    o = read_testdata(spark, sf_dir, "orders")
    u = ((F.col("o_orderkey") * WS_MULT) % WS_MOD + 1) / F.lit(float(WS_MOD + 1))
    keyed = o.select(
        "o_orderkey",
        "o_totalprice",
        (F.log(u) / F.col("o_totalprice")).alias("es_key"),
    )
    top = keyed.orderBy(F.col("es_key").desc(), "o_orderkey").limit(WS_K)
    w = Window.orderBy(F.col("es_key").desc(), "o_orderkey")
    # the rank window runs AFTER the limit - WS_K rows, driver-scale
    return top.select(
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w).cast("int").alias("rank"),
        round_compat("es_key", 12).alias("es_key"),
    )


# --- Repetition entropy gate ----------------------------------------------
# Shannon entropy (nats) of each document's token distribution:
# H = ln(n) - (1/n) * sum_t c_t ln c_t. Low entropy = repetitive
# boilerplate/spam; the gate threshold is applied on the ROUNDED value
# so both engines flag identically.
ENTROPY_LOW_NATS = 3.0


@register(
    "token_entropy_gate",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({tokens_sql('text')}) AS token FROM documents),
    c AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    h AS (SELECT doc_id, SUM(c) AS n, CAST(COUNT(*) AS BIGINT) AS n_distinct,
                 ln(SUM(c)) - SUM(c * ln(c)) / SUM(c) AS ent
          FROM c GROUP BY doc_id)
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, n_distinct,
           ROUND(ent * 1e6, 0) / 1e6 AS entropy_nats,
           ROUND(ent * 1e6, 0) / 1e6 < {ENTROPY_LOW_NATS} AS low_entropy
    FROM h
    """,
    "repetition-entropy quality gate: Shannon entropy (nats) of each"
    " document's token distribution via the ln(n) - sum(c ln c)/n"
    " identity — one shuffle on (doc, token), no per-doc sort;"
    " low-entropy docs (boilerplate, keyword stuffing) flagged on the"
    " rounded value so both engines gate identically",
    tags=("text", "quality", "mlprep", "headline"),
)
def token_entropy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The identity form matters at scale: computing H from p ln p
    would need per-doc totals joined back to per-token rows; the
    c*ln(c) form needs only the (doc, token) count table and one
    more groupBy — both partial-aggregatable map-side."""
    d = spread(read_testdata(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    c = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    h = c.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_distinct"),
        (
            F.log(F.sum("c"))
            - F.sum(F.col("c") * F.log("c")) / F.sum("c")
        ).alias("ent"),
    )
    ent6 = round_compat("ent", 6)
    return h.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        "n_distinct",
        ent6.alias("entropy_nats"),
        (ent6 < ENTROPY_LOW_NATS).alias("low_entropy"),
    )


# --- Interpolated bigram LM -----------------------------------------------
# Jelinek-Mercer interpolation: p(w2|w1) = LAMBDA * c(w1 w2)/c(w1.)
# + (1-LAMBDA) * c(w2)/N, trained on the corpus itself (so every doc
# bigram has a nonzero count). Per-doc score = mean ln p over the
# doc's bigram INSTANCES.
LM_LAMBDA = 0.75


def _bigrams_sql() -> str:
    return f"""
    tok AS (SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                         i -> t[i] || ' ' || t[i+1])) AS bigram
           FROM tok),
    uni AS (SELECT unnest(t) AS token FROM tok),
    c1 AS (SELECT token, COUNT(*) AS c FROM uni GROUP BY token),
    n1 AS (SELECT SUM(c) AS n FROM c1),
    c2 AS (SELECT bigram, COUNT(*) AS c FROM bg GROUP BY bigram)"""


@register(
    "bigram_lm_score",
    f"""
    WITH {_bigrams_sql()}
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(ln({LM_LAMBDA} * c2.c / ca.c
                        + {1 - LM_LAMBDA} * cb.c / n1.n)) * 1e6, 0) / 1e6
             AS avg_logp
    FROM bg b
    JOIN c2 ON c2.bigram = b.bigram
    JOIN c1 ca ON ca.token = split_part(b.bigram, ' ', 1)
    JOIN c1 cb ON cb.token = split_part(b.bigram, ' ', 2)
    CROSS JOIN n1
    GROUP BY b.doc_id
    """,
    f"interpolated bigram language-model scorer (Jelinek-Mercer,"
    f" lambda={LM_LAMBDA}): per-doc mean log-probability of its word"
    " bigrams under corpus bigram+unigram counts — the CCNet-style"
    " fluency signal one rung above the unigram scorer; count tables"
    " are JOINED on the gram key (they scale with the corpus),"
    " only the scalar token total is broadcast",
    tags=("text", "lm", "mlprep", "headline"),
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three shuffles total (bigram counts, unigram counts, the
    doc re-join), all on gram keys with map-side partial aggregation;
    docs with < 2 tokens produce no bigrams and drop out (inner join),
    identical on both engines. Every doc bigram is in the count table
    by construction (the model trains on the scored corpus), so the
    joins lose nothing."""
    d = spread(read_testdata(spark, sf_dir, "documents"))
    tok = d.select("doc_id", tokens("text").alias("t"))
    # deliberately NOT persisted: measured at sf0.1 the cache
    # write/read of the exploded bigram table costs more than
    # recomputing the (cheap) tokenize subtree, and Catalyst already
    # reuses the identical count exchanges (persist 2.2-3.5s vs
    # recompute 1.9-2.8s warm). Contrast ngram_novelty_score / dsir,
    # where the reused subtree is expensive enough that the scoped
    # persist measurably wins.
    bg = tok.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(t) - 1, 0)),"
                " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
            )
        ).alias("bigram"),
    )
    uni = tok.select(F.explode("t").alias("token"))
    c1 = uni.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    n1 = c1.agg(F.sum("c").alias("n"))
    c2 = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c"))
    ca = c1.select(F.col("token").alias("w1"), F.col("c").alias("c_w1"))
    cb = c1.select(F.col("token").alias("w2"), F.col("c").alias("c_w2"))
    scored = (
        bg.join(c2, "bigram")
        .withColumn("w1", F.split("bigram", " ")[0])
        .withColumn("w2", F.split("bigram", " ")[1])
        .join(ca, "w1")
        .join(cb, "w2")
        .crossJoin(F.broadcast(n1))
        .select(
            "doc_id",
            F.log(
                LM_LAMBDA * F.col("c") / F.col("c_w1")
                + (1 - LM_LAMBDA) * F.col("c_w2") / F.col("n")
            ).alias("logp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        round_compat(F.avg("logp"), 6).alias("avg_logp"),
    )


# --- Hard-negative mining -------------------------------------------------
# Contrastive-training pairs: for each anchor, the most-similar
# neighbours INSIDE a band [NEG_LO, NEG_HI) — similar enough to be
# hard, dissimilar enough to be true negatives (planted twins sit
# above NEG_HI and are excluded by construction).
NEG_LO = 0.20
NEG_HI = 0.85
HN_PER_ANCHOR = 5
HN_ANCHORS = 10


def _hn_oracle() -> str:
    from aws_etl_global_footprint_network_spark.functions.vectors import dot_sql
    from aws_etl_global_footprint_network_spark.operators.similarity import (
        _augmented_sql,
    )

    return f"""
    WITH {_augmented_sql()},
    q AS (SELECT vec_id, e, nrm FROM v WHERE vec_id < {HN_ANCHORS}),
    scored AS (
      SELECT q.vec_id AS anchor_id, v.vec_id AS negative_id,
             ROUND({dot_sql('q.e', 'v.e')} / (q.nrm * v.nrm) * 1e6, 0) / 1e6
               AS cos
      FROM q JOIN v ON q.vec_id <> v.vec_id),
    banded AS (SELECT * FROM scored
               WHERE cos >= {NEG_LO} AND cos < {NEG_HI}),
    ranked AS (
      SELECT anchor_id, negative_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
                   ORDER BY cos DESC, negative_id) AS INT) AS rank
      FROM banded)
    SELECT anchor_id, negative_id, rank, cos
    FROM ranked WHERE rank <= {HN_PER_ANCHOR}
    """


@register(
    "hard_negative_mining",
    _hn_oracle(),
    f"hard-negative mining for contrastive training: per anchor, the"
    f" top-{HN_PER_ANCHOR} most-similar neighbours inside the cosine"
    f" band [{NEG_LO}, {NEG_HI}) — near misses, with true duplicates"
    " (above the band) and random noise (below it) both excluded;"
    " band filter + ranking decided on the rounded score so both"
    " engines cut the same set",
    tags=("similarity", "mlprep", "headline"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same scan shape as ann_cosine_topk (broadcast bounded anchor
    set, map-side fold) with the band filter applied BEFORE the
    per-anchor window, and a per-input-partition top-R pre-reduction
    before the final window — no anchor ever funnels the whole banded
    corpus through one task. At 100 TB the scan becomes the
    IVF/LSH-bucketed path; the band + keep-top-m semantics are
    unchanged."""
    from aws_etl_global_footprint_network_spark.functions.vectors import dot
    from aws_etl_global_footprint_network_spark.operators.similarity import (
        augmented_embeddings,
    )

    emb = augmented_embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < HN_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    cos6 = round_compat(
        dot("qe", "e") / (F.col("qnrm") * F.col("nrm")), 6
    )
    banded = (
        emb.join(F.broadcast(q), F.col("anchor_id") != F.col("vec_id"))
        .select(
            "anchor_id",
            F.col("vec_id").alias("negative_id"),
            cos6.alias("cos"),
        )
        .filter((F.col("cos") >= NEG_LO) & (F.col("cos") < NEG_HI))
    )
    w_pre = Window.partitionBy("anchor_id", "_pid").orderBy(
        F.col("cos").desc(), "negative_id"
    )
    pre = (
        banded.withColumn("_pid", F.spark_partition_id())
        .withColumn("_prn", F.row_number().over(w_pre))
        .filter(F.col("_prn") <= HN_PER_ANCHOR)
        .drop("_pid", "_prn")
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos").desc(), "negative_id"
    )
    return (
        pre.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= HN_PER_ANCHOR)
        .select("anchor_id", "negative_id", "rank", "cos")
    )


# --- Per-source distribution drift ----------------------------------------
# Jensen-Shannon divergence between each source's unigram distribution
# p_s and the corpus mixture m: the mixture-shift monitor a corpus
# pipeline runs per ingest batch. JSD(p, m) needs a sum over the UNION
# of supports, but the t-not-in-s tail collapses to a scalar:
#   JSD(s) = 0.5 * sum_{t in s} p ln(p / a)                (a = (p+m)/2)
#          + 0.5 * sum_{t in s} m ln(m / a)
#          + 0.5 * ln 2 * (1 - sum_{t in s} m)
# so the whole computation lives on the JOINED (source, token) rows
# plus per-source scalars — no dense vocab materialisation.


@register(
    "source_jsd_divergence",
    f"""
    WITH tok AS (
      SELECT source, unnest({tokens_sql('text')}) AS token FROM documents),
    cst AS (SELECT source, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    ns AS (SELECT source, SUM(c) AS n_s FROM cst GROUP BY source),
    ct AS (SELECT token, SUM(c) AS c_t FROM cst GROUP BY token),
    n AS (SELECT SUM(c_t) AS n FROM ct),
    terms AS (
      SELECT cst.source,
             cst.c * 1.0 / ns.n_s AS p,
             ct.c_t * 1.0 / n.n AS m
      FROM cst
      JOIN ns ON ns.source = cst.source
      JOIN ct ON ct.token = cst.token
      CROSS JOIN n)
    SELECT source,
           CAST(ANY_VALUE(ns2.n_s) AS BIGINT) AS n_tokens,
           ROUND((0.5 * SUM(p * ln(p / ((p + m) / 2)))
                  + 0.5 * SUM(m * ln(m / ((p + m) / 2)))
                  + 0.5 * ln(2) * (1 - SUM(m))) * 1e6, 0) / 1e6 AS jsd
    FROM terms JOIN ns ns2 USING (source)
    GROUP BY source
    """,
    "per-source distribution drift: Jensen-Shannon divergence between"
    " each source's unigram distribution and the corpus mixture — the"
    " ingest-batch mixture-shift monitor; the out-of-support tail is"
    " folded into a scalar so everything computes on the joined"
    " (source, token) count rows, never a dense vocabulary",
    tags=("text", "quality", "mlprep", "scale", "headline"),
)
def source_jsd_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count tables joined on their natural keys (they scale with the
    corpus); only the 1-row grand total is broadcast. Output is one
    row per source, so the final aggregate is bounded by the source
    count regardless of corpus size."""
    scope = CacheScope("source_jsd_divergence")
    d = spread(read_testdata(spark, sf_dir, "documents"))
    tok = d.select("source", F.explode(tokens("text")).alias("token"))
    # persisted: the (source, token) count table feeds the per-source
    # totals, the marginal totals AND the term join — three consumers,
    # one tokenize+count pass. Vocabulary-sized, not corpus-sized.
    cst = scope.persist(
        tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    )
    ns = cst.groupBy("source").agg(F.sum("c").alias("n_s"))
    ct = cst.groupBy("token").agg(F.sum("c").alias("c_t"))
    n = ct.agg(F.sum("c_t").alias("n"))
    terms = (
        cst.join(ns, "source")
        .join(ct, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            (F.col("c") / F.col("n_s")).alias("p"),
            (F.col("c_t") / F.col("n")).alias("m"),
        )
    )
    a = (F.col("p") + F.col("m")) / 2
    import math

    jsd = (
        0.5 * F.sum(F.col("p") * F.log(F.col("p") / a))
        + 0.5 * F.sum(F.col("m") * F.log(F.col("m") / a))
        + 0.5 * math.log(2) * (1 - F.sum("m"))
    )
    return (
        terms.join(ns, "source")
        .groupBy("source")
        .agg(
            F.any_value("n_s").cast("bigint").alias("n_tokens"),
            round_compat(jsd, 6).alias("jsd"),
        )
    )


# --- n-gram novelty -------------------------------------------------------
# What fraction of a document's word 3-grams appear in NO other
# document? Low novelty = templated/boilerplate/near-duplicate
# content; high novelty = unique text. The memorization-risk /
# diversity metric that complements span-level dup detection
# (dup_ngram_spans finds the shared spans; this scores each doc).
NOVELTY_N = 3


@register(
    "ngram_novelty_score",
    f"""
    WITH tok AS (SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
    sh AS (SELECT doc_id,
                  unnest({word_shingles_sql('t', NOVELTY_N)}) AS shingle
           FROM tok),
    dpg AS (SELECT shingle, COUNT(DISTINCT doc_id) AS nd
            FROM sh GROUP BY shingle)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN d.nd = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           ROUND(SUM(CASE WHEN d.nd = 1 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*) * 1e6, 0) / 1e6 AS novelty
    FROM sh s JOIN dpg d ON d.shingle = s.shingle
    GROUP BY s.doc_id
    """,
    f"n-gram novelty score: per document, the fraction of its word"
    f" {NOVELTY_N}-gram instances whose gram occurs in no other"
    " document — the diversity/templating signal dual to span-level"
    " dup detection; gram doc-counts are JOINED on the gram key (the"
    " gram table scales with the corpus), one shuffle each way",
    tags=("text", "quality", "mlprep", "scale", "headline"),
)
def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-only formulation (round-10): a gram with nd == 1
    lives ENTIRELY in one document, so that document's novel-instance
    count is recoverable from per-shingle aggregates alone —
    (nd, min(doc_id), instance count) per shingle, filtered to
    nd == 1 and re-grouped by the owning doc — and the corpus-sized
    instances-join the previous plan shuffled both ways is gone.
    Docs whose every gram is shared coalesce to 0 novel.
    Integer counters with one final rounded division, so the only
    float op is order-free. Docs with fewer than NOVELTY_N tokens
    have no grams and drop out on both engines.

    Round-12 continuation rework, two structural cuts on top of the
    aggregate-only shape: (1) "gram occurs in exactly one document"
    is min(doc_id) == max(doc_id) — a plain single-phase aggregate —
    where COUNT(DISTINCT doc_id) planned as a TWO-phase shuffle
    (expand by (shingle, doc_id), regroup by shingle) over the ~40
    shingle instances per document; (2) a document's gram TOTAL is
    arithmetic, greatest(|tokens| - N + 1, 0), so the per-doc side
    needs no explode, no shuffle, and the 20M-instance shingle frame
    no longer needs persisting (its one remaining consumer is the
    per-shingle aggregate). The corpus is tokenized twice (both
    passes map-only and codegen), in exchange for one fewer shuffle
    phase, no 20M-row cache generation, and a per-doc side computed
    entirely scan-side (sf1 A/B, one warm session, 4 alternating
    rounds: 5.62/4.95/4.51/4.75 s -> 1.02/0.99/0.91/0.90 s, same
    rows/hash)."""
    d = spread(read_testdata(spark, sf_dir, "documents"))
    sh = d.select(
        "doc_id",
        F.explode(word_shingles(tokens("text"), NOVELTY_N)).alias("shingle"),
    )
    per_sh = sh.groupBy("shingle").agg(
        F.min("doc_id").alias("d0"),
        F.max("doc_id").alias("d1"),
        F.count(F.lit(1)).alias("inst"),
    )
    novel = (
        per_sh.filter(F.col("d0") == F.col("d1"))
        .groupBy(F.col("d0").alias("doc_id"))
        .agg(F.sum("inst").cast("bigint").alias("n_novel"))
    )
    grams = d.select(
        "doc_id",
        F.greatest(
            F.size(tokens("text")) - F.lit(NOVELTY_N - 1), F.lit(0)
        )
        .cast("bigint")
        .alias("n_grams"),
    ).filter(F.col("n_grams") > 0)
    return (
        grams.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_novel"), F.lit(0))
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            round_compat(F.col("n_novel") / F.col("n_grams"), 6).alias(
                "novelty"
            ),
        )
    )


# --- Semantic deduplication (SemDeDup) ------------------------------------
# Abbas et al. 2023: cluster the embedding space, find within-cluster
# pairs above a cosine threshold, and KEEP the member LEAST similar to
# its cluster centroid (preserving edge examples preserves diversity).
# Cross-cluster duplicates are missed by design — that approximation
# is the paper's scalability contract, and it is what keeps the pair
# step bounded: pairs never cross clusters. Cluster granularity is the
# dial; here the cells are a coordinate-sign signature (2^10 cells) —
# on this corpus the label centroids are all near the origin (the
# organic embeddings are isotropic), so a k-means cell assignment is
# argmin over near-equal distances: pure noise that splits 22% of the
# planted twin pairs (measured). The sign cell is the deterministic
# stand-in with the property a dedup cluster key actually needs here:
# twins scale coordinates by a strictly positive factor, so a planted
# near-duplicate pair NEVER splits. Distance to the nearest label
# centroid still drives the paper's keep rule.
SEM_T = 0.85
SEM_SIGN_BITS = 10
# Adaptive cell granularity (round 11): the 2^10 cell space is fixed,
# so per-cell occupancy — and the within-cell pair join, the operator's
# only superlinear term — grows linearly with the corpus (x20.8 wall on
# 10x vectors, sf10 probe). Granularity is exactly the dial SemDeDup
# prescribes, so the cell key gains one sign bit per corpus doubling
# past the similarity module's ADAPTIVE_NREF (same integer ladder, same
# COUNT(*), masked in the static oracle / literal in the Spark plan).
# Twins can NEVER split on added sign bits: the planted noise is a
# strictly positive per-coordinate scale factor, so every coordinate
# sign — all 64 of them — is twin-invariant by construction.
# MUST equal similarity.ADAPTIVE_MAX_EXTRA (the ladder's cap):
# _sem_oracle asserts it, and the sf10 sweep is what caught the
# original skew — with the ladder capping at 8 but only 6 extra terms
# masked in the oracle, extra=7 made Spark use a 17th sign bit the
# oracle never saw (green at extra<=6, divergent only at a decade
# above sf1; the forced-geometry test runs extra=2).
SEM_MAX_EXTRA_BITS = 8


def _sem_oracle(nref: int | None = None) -> str:
    from aws_etl_global_footprint_network_spark.functions.vectors import dot_sql
    from aws_etl_global_footprint_network_spark.operators.similarity import (
        ADAPTIVE_MAX_EXTRA,
        ADAPTIVE_NREF,
        CENTROID_ROUND,
        _augmented_sql,
        _extra_bits_sql,
    )

    # the ladder caps at ADAPTIVE_MAX_EXTRA; every capped value must
    # have a masked term below or Spark sees sign bits the oracle
    # doesn't (the sf10-only divergence this assert now pins at
    # import time)
    assert SEM_MAX_EXTRA_BITS == ADAPTIVE_MAX_EXTRA
    nref = ADAPTIVE_NREF if nref is None else nref

    sign_bits = " + ".join(
        f"CASE WHEN v.e[{i + 1}] > 0 THEN {1 << i} ELSE 0 END"
        for i in range(SEM_SIGN_BITS)
    ) + " + " + " + ".join(
        f"(CASE WHEN p.extra > {j} AND v.e[{SEM_SIGN_BITS + j + 1}] > 0"
        f" THEN {1 << (SEM_SIGN_BITS + j)} ELSE 0 END)"
        for j in range(SEM_MAX_EXTRA_BITS)
    )
    return f"""
    WITH {_augmented_sql()},
    params AS (SELECT {_extra_bits_sql(nref)} AS extra
               FROM (SELECT COUNT(*) AS n FROM embeddings)),
    ex AS (SELECT t.label, generate_subscripts(t.e, 1) AS pos,
                  unnest(t.e) AS val
           FROM (SELECT label, embedding::DOUBLE[] AS e FROM embeddings) t),
    cent AS (
      SELECT label, pos,
             ROUND(AVG(val) * 1e{CENTROID_ROUND}, 0) / 1e{CENTROID_ROUND} AS cv
      FROM ex GROUP BY label, pos),
    carr AS (SELECT label, list(cv ORDER BY pos) AS c FROM cent GROUP BY label),
    dists AS (
      SELECT v.vec_id, carr.label,
             list_sum(list_transform(range(1, len(v.e)+1),
                      i -> (v.e[i] - carr.c[i]) * (v.e[i] - carr.c[i]))) AS d
      FROM v CROSS JOIN carr),
    asg0 AS (
      SELECT vec_id, label, ROUND(d * 1e6, 0) / 1e6 AS sd
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY d, label) AS rn
            FROM dists) WHERE rn = 1),
    asg AS (
      SELECT a.vec_id, a.sd, ({sign_bits}) AS cluster
      FROM asg0 a JOIN v ON v.vec_id = a.vec_id, params p),
    pairs AS (
      SELECT a.vec_id AS va, a.cluster, a.sd AS sda, b.sd AS sdb,
             b.vec_id AS vb,
             ROUND({dot_sql('x.e', 'y.e')} / (x.nrm * y.nrm) * 1e6, 0) / 1e6
               AS cos
      FROM asg a JOIN asg b
        ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
      JOIN v x ON x.vec_id = a.vec_id
      JOIN v y ON y.vec_id = b.vec_id)
    SELECT va AS vec_id, CAST(ANY_VALUE(cluster) AS INT) AS cluster
    FROM pairs
    WHERE cos >= {SEM_T}
      AND (sdb > sda OR (sdb = sda AND vb < va))
    GROUP BY va
    """


@register(
    "semantic_dedup_drop",
    _sem_oracle(),
    f"SemDeDup semantic deduplication: within-cluster embedding pairs"
    f" with cosine >= {SEM_T} keep only the member FARTHEST from its"
    " cluster centroid (edge examples preserve diversity — Abbas et"
    f" al. 2023); clusters = a {SEM_SIGN_BITS}-bit coordinate-sign"
    " cell (the deterministic k-means stand-in that never splits a"
    " near-duplicate pair on this corpus), so the pair step is bounded"
    " within cells at any corpus size; output = the dropped vectors."
    " Comparisons decided on rounded grains so both engines drop the"
    " identical set",
    tags=("dedup", "similarity", "mlprep", "scale", "headline"),
)
def semantic_dedup_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered wrapper; see ``_semantic_dedup_drop``."""
    return _semantic_dedup_drop(spark, sf_dir)


def _semantic_dedup_drop(
    spark: SparkSession, sf_dir: str, nref: int | None = None
) -> DataFrame:
    """The SemDeDup shape, Spark-first: centroids broadcast (bounded
    k), assignment is a map-only argmin, the sign-signature refinement
    is pure per-row arithmetic, and the pair join shuffles on the
    cluster key — Σ cluster_size² work, dialable via cluster
    granularity exactly as in the paper. A vector is dropped when some
    same-cluster neighbour at cosine >= SEM_T sits strictly farther
    from the centroid (rounded sq-dist; vec_id breaks exact ties), so
    every duplicate neighbourhood keeps exactly its farthest member —
    no iterative connected components needed.

    Round 11: the cell key carries SEM_SIGN_BITS + one sign bit per
    corpus doubling past ADAPTIVE_NREF (see the constants block) —
    per-cell occupancy, and with it the Σ cluster_size² pair join,
    stays ~constant where the fixed 2^10 grid grew linearly (x20.8
    wall at 10x vectors, sf10 probe). The dispatch COUNT is logged;
    the oracle derives the identical bit count in SQL. ``nref``
    (tests only) forces a non-default geometry so parity can be
    pinned with extra > 0 on the small corpora."""
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        _log_dispatch,
    )
    from aws_etl_global_footprint_network_spark.functions.vectors import dot
    from aws_etl_global_footprint_network_spark.operators.similarity import (
        ADAPTIVE_NREF,
        _extra_bits,
        augmented_embeddings,
        ivf_label_centroids,
    )
    from aws_etl_global_footprint_network_spark.sources.readers import (
        read_testdata,
    )

    nref = ADAPTIVE_NREF if nref is None else nref
    # Anchor units: counts the RAW table while the cells hash the
    # twin-AUGMENTED corpus (+1/TWIN_EVERY) — same convention as the
    # similarity.py constants block, oracle counts identically, and
    # the eager per-build COUNT is a parquet metadata read.
    from aws_etl_global_footprint_network_spark.functions.width import (
        raw_table_count,
    )

    n = raw_table_count(spark, sf_dir, "embeddings")
    extra = _extra_bits(n, nref)
    _log_dispatch("semdedup_cell_bits", n, nref, f"extra={extra}")
    aug = augmented_embeddings(spark, sf_dir)
    scope = CacheScope("semantic_dedup_drop")
    cent = ivf_label_centroids(spark, sf_dir)
    carr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "centroid_val"))),
            lambda s: s.centroid_val,
        ).alias("c")
    )
    sq = F.aggregate(
        F.zip_with("e", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    dists = aug.crossJoin(F.broadcast(carr)).select(
        "vec_id", "label", sq.alias("d")
    )
    w = Window.partitionBy("vec_id").orderBy("d", "label")
    asg0 = (
        dists.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("vec_id", "label", round_compat("d", 6).alias("sd"))
    )
    sign_bits = sum(
        F.when(F.element_at("e", i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(SEM_SIGN_BITS + extra)
    )
    asg = scope.persist(
        asg0.join(aug, "vec_id").select(
            "vec_id",
            "sd",
            sign_bits.alias("cluster"),
            "e",
            "nrm",
        )
    )
    a = asg.select(
        F.col("vec_id").alias("va"),
        F.col("cluster"),
        F.col("sd").alias("sda"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = asg.select(
        F.col("vec_id").alias("vb"),
        F.col("cluster").alias("cluster_b"),
        F.col("sd").alias("sdb"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos6 = round_compat(dot("ea", "eb") / (F.col("na") * F.col("nb")), 6)
    pairs = a.join(
        b,
        (F.col("cluster") == F.col("cluster_b")) & (F.col("va") != F.col("vb")),
    ).select("va", "cluster", "sda", "sdb", "vb", cos6.alias("cos"))
    return (
        pairs.filter(
            (F.col("cos") >= SEM_T)
            & (
                (F.col("sdb") > F.col("sda"))
                | ((F.col("sdb") == F.col("sda")) & (F.col("vb") < F.col("va")))
            )
        )
        .groupBy(F.col("va").alias("vec_id"))
        .agg(F.any_value("cluster").cast("int").alias("cluster"))
    )


# --- Balanced corpus sharding ---------------------------------------------
# Longest-first round-robin: rank docs by token count (desc), shard =
# (rank-1) % N. Each shard gets the same doc count (±1) and, because
# consecutive ranks have similar sizes, near-equal token totals —
# the standard cheap approximation of LPT scheduling.
N_SHARDS = 8


@register(
    "shard_assignment_balanced",
    f"""
    WITH sized AS (
      SELECT doc_id, len({tokens_sql('text')}) AS n_tokens FROM documents),
    ranked AS (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS rn
      FROM sized)
    SELECT CAST((rn - 1) % {N_SHARDS} AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM ranked
    GROUP BY 1
    """,
    f"balanced corpus sharding: documents ranked by token count and"
    f" dealt round-robin into {N_SHARDS} shards (longest-first LPT"
    " approximation) so every training shard holds near-equal token"
    " mass; the global rank uses the distributed-rank recipe (range"
    " repartition + per-partition rank + broadcast offsets), never a"
    " single-task window; all-integer output",
    tags=("mlprep", "layout", "scale", "headline"),
)
def shard_assignment_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shuffle-to-shards step that fixes straggler shards in a
    token-budgeted training run. The only global structure needed is
    the rank, computed scale-safely by functions.ranking; everything
    after is arithmetic + one bounded aggregate (N_SHARDS rows)."""
    d = spread(read_testdata(spark, sf_dir, "documents"))
    sized = d.select("doc_id", F.size(tokens("text")).alias("n_tokens"))
    scope = CacheScope("shard_assignment_balanced")
    ranked = adaptive_row_number(
        sized,
        [F.col("n_tokens").desc(), F.col("doc_id")],
        "rn",
        scope,
    )
    return (
        ranked.select(
            ((F.col("rn") - 1) % N_SHARDS).cast("int").alias("shard"),
            "n_tokens",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


# --- Rendezvous (HRW) shard affinity --------------------------------------
# Highest-random-weight hashing: every doc goes to argmax_s h(doc, s).
# The consistent-hashing property — adding a shard moves only
# ~1/(n+1) of the keys — is part of the OUTPUT (n_moved_if_add_one),
# so the operator measures the very guarantee it exists for. The hash
# is pure integer arithmetic (Knuth multiplicative mixes), identical
# on both engines.
HRW_SHARDS = 8
HRW_P1 = 2654435761
HRW_P2 = 40503
HRW_P3 = 0x45D9F3B  # small enough that (2^32-1) * P3 < 2^63 (DuckDB errors on BIGINT overflow)  # post-xor remix: without it the shared doc term
# makes argmax(m ^ salt_s) a trie partition of the salt set — measured
# 2x/0.5x shard imbalance; the odd-multiplier remix scrambles order
# and restores near-uniform balance (and the ~1/(n+1) movement bound)
HRW_MOD = 4_294_967_296


def _hrw_sql() -> str:
    def h(shard_expr: str) -> str:
        return (
            f"(xor((doc_id * {HRW_P1}) % {HRW_MOD},"
            f" (({shard_expr} * {HRW_P2} + 1) * {HRW_P1}) % {HRW_MOD})"
            f" * {HRW_P3}) % {HRW_MOD}"
        )

    return f"""
    WITH d AS (SELECT doc_id FROM documents),
    scored AS (
      SELECT doc_id, s.shard,
             {h('s.shard')} AS w
      FROM d CROSS JOIN (SELECT unnest(range({HRW_SHARDS + 1})) AS shard) s),
    pick_n AS (
      SELECT doc_id, shard FROM (
        SELECT doc_id, shard,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY w DESC, shard) AS rn
        FROM scored WHERE shard < {HRW_SHARDS}) WHERE rn = 1),
    pick_n1 AS (
      SELECT doc_id, shard FROM (
        SELECT doc_id, shard,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY w DESC, shard) AS rn
        FROM scored) WHERE rn = 1)
    SELECT a.shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN a.shard <> b.shard THEN 1 ELSE 0 END) AS BIGINT)
             AS n_moved_if_add_one
    FROM pick_n a JOIN pick_n1 b USING (doc_id)
    GROUP BY a.shard
    """


@register(
    "rendezvous_shard_affinity",
    _hrw_sql(),
    f"rendezvous (highest-random-weight) shard affinity: every doc"
    f" routed to argmax over {HRW_SHARDS} integer-hash weights — the"
    " consistent-hashing assignment whose measured property is in the"
    " output: adding a shard moves only ~1/(n+1) of the keys"
    " (n_moved_if_add_one), vs ~all keys for mod-N routing; map-only"
    " per doc, weights never materialise beyond the argmax",
    tags=("layout", "scale", "headline"),
)
def rendezvous_shard_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HRW beats mod-N exactly where a 100 TB corpus lives: shard
    counts change. The per-doc argmax over a literal shard array is
    a map-only expression (no join, no shuffle until the final
    bounded aggregate); xor-mix arithmetic stays in whole-stage
    codegen. The oracle builds the same weights relationally."""
    d = spread(read_testdata(spark, sf_dir, "documents")).select("doc_id")

    def w(shard: int) -> F.Column:
        mixed = (F.col("doc_id") * HRW_P1) % HRW_MOD
        salt = ((shard * HRW_P2 + 1) * HRW_P1) % HRW_MOD
        return (mixed.bitwiseXOR(F.lit(salt)) * HRW_P3) % HRW_MOD

    def argmax(n: int) -> F.Column:
        # greatest-of via array of (weight, -shard) structs; max picks
        # highest weight, then LOWEST shard id on ties (negated)
        arr = F.array(
            *[F.struct(w(s).alias("w"), F.lit(-s).alias("ns")) for s in range(n)]
        )
        return -F.array_max(arr)["ns"]

    picked = d.select(
        "doc_id",
        argmax(HRW_SHARDS).cast("int").alias("shard"),
        argmax(HRW_SHARDS + 1).cast("int").alias("shard_n1"),
    )
    return picked.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("shard") != F.col("shard_n1"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_moved_if_add_one"),
    )
