"""Training-corpus preparation operators ([EXT] — beyond the
reference's surface, per SURVEY §0): repetition-based quality filters,
GPT-style sequence packing, temperature-based domain mixing, exact
stratified sampling, deterministic global shuffle, and PII redaction.

These are the operators a large-scale LLM-pretraining data pipeline
runs after dedup (``operators/dedup.py``) and before tokenisation:
Gopher-style repetition filters decide what to keep, domain mixing
decides how much of each source, the shuffle/packing pair decides the
order and physical layout the trainer reads.

Everything is built-in column expressions and window functions — no
Python in the hot path; the per-document n-gram mode computations are
O(tokens²) per document (documents are KB-sized) but map-side and
embarrassingly parallel, so at 100 TB the cost rides the scan.

Cross-engine determinism notes:
- All hashing is md5-derived (``functions/hashing.py``) — identical in
  Spark and the DuckDB oracle.
- The temperature weight uses sqrt (tau = 0.5) rather than pow():
  IEEE 754 requires sqrt to be correctly rounded, so both engines get
  bit-identical weights; pow() is libm-dependent.
- Integer offsets/chunk ids are exact in both engines (bigint
  arithmetic, floor division on values far below 2^53).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions.compat import round_compat
from aws_etl_global_footprint_network_spark.functions.hashing import (
    md5_hash60,
    md5_hash60_sql,
)
from aws_etl_global_footprint_network_spark.functions.text import (
    tokens,
    tokens_sql,
    word_shingles,
    word_shingles_sql,
)
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import (
    read_testdata,
    spread,
)

# Gopher-style repetition thresholds (Rae et al. 2021, table A1 uses
# 0.18 / 0.16 for top 2-/3-gram fraction on web text; the synthetic
# corpus here has a ~30-word vocabulary, so the keep flag is
# data-dependent but the rule shape is the real one).
TOP_BIGRAM_MAX = 0.18
TOP_TRIGRAM_MAX = 0.16
TOP_TOKEN_MAX = 0.20

# Sequence packing: trainer context length in (whitespace) tokens and
# number of physical shards. At 100 TB the shard count is the writer
# parallelism — thousands; 8 keeps sf0.001 shards non-trivial.
SEQ_LEN = 256
PACK_SHARDS = 8

# Global shuffle fan-out.
SHUFFLE_SHARDS = 16

# Domain mixing: temperature tau = 0.5 (weight = count^tau = sqrt) and
# the fraction of the corpus the mixed sample should keep.
MIX_BUDGET_FRAC = 0.5

# Exact stratified sampling: per-(source, lang) cap.
STRATUM_K = 20

# 2^60 as a double — divisor turning md5_hash60 into U[0,1).
_H60_SCALE = float(1 << 60)


def _mode_count(arr):
    """Count of the most frequent element of an array column (0 for
    empty). O(distinct * n) per row — document-bounded, map-side."""
    return F.coalesce(
        F.array_max(
            F.transform(
                F.array_distinct(arr),
                lambda x: F.size(F.filter(arr, lambda y: y == x)),
            )
        ),
        F.lit(0),
    )


def _mode_count_sql(arr: str) -> str:
    return (
        f"coalesce(list_max(list_transform(list_distinct({arr}),"
        f" x -> len(list_filter({arr}, y -> y = x)))), 0)"
    )


@register(
    "repetition_filters",
    f"""
    WITH base AS (
      SELECT doc_id, source, {tokens_sql('text')} AS t FROM documents),
    grams AS (
      SELECT doc_id, source, t,
             {word_shingles_sql('t', 2)} AS b,
             {word_shingles_sql('t', 3)} AS tri
      FROM base WHERE len(t) >= 3)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
           CAST(len(t) AS INT) AS n_tokens,
           ROUND({_mode_count_sql('t')} * 1.0 / len(t), 6) AS top_token_frac,
           ROUND({_mode_count_sql('b')} * 1.0 / len(b), 6) AS top_bigram_frac,
           ROUND({_mode_count_sql('tri')} * 1.0 / len(tri), 6)
             AS top_trigram_frac,
           ({_mode_count_sql('t')} * 1.0 / len(t) <= {TOP_TOKEN_MAX}
            AND {_mode_count_sql('b')} * 1.0 / len(b) <= {TOP_BIGRAM_MAX}
            AND {_mode_count_sql('tri')} * 1.0 / len(tri) <= {TOP_TRIGRAM_MAX})
             AS keep
    FROM grams
    """,
    "Gopher-style repetition quality filters: top 1-/2-/3-gram"
    " fraction per document with a keep flag — the repetition half of"
    " the Rae et al. quality rules (the length/symbol half is"
    " text_quality_stats)",
    tags=("text", "mlprep", "filter", "headline"),
)
def repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(read_testdata(spark, sf_dir, "documents"))
    base = d.select("doc_id", "source", tokens("text").alias("t")).filter(
        F.size("t") >= 3
    )
    g = base.select(
        "doc_id",
        "source",
        "t",
        word_shingles("t", 2).alias("b"),
        word_shingles("t", 3).alias("tri"),
    )
    tok_frac = _mode_count(F.col("t")) / F.size("t")
    bi_frac = _mode_count(F.col("b")) / F.size("b")
    tri_frac = _mode_count(F.col("tri")) / F.size("tri")
    return g.select(
        "doc_id",
        "source",
        F.size("t").cast("int").alias("n_tokens"),
        round_compat(tok_frac, 6).alias("top_token_frac"),
        round_compat(bi_frac, 6).alias("top_bigram_frac"),
        round_compat(tri_frac, 6).alias("top_trigram_frac"),
        (
            (tok_frac <= TOP_TOKEN_MAX)
            & (bi_frac <= TOP_BIGRAM_MAX)
            & (tri_frac <= TOP_TRIGRAM_MAX)
        ).alias("keep"),
    )


@register(
    "sequence_packing",
    f"""
    WITH toks AS (
      SELECT doc_id, len({tokens_sql('text')}) AS n_tokens,
             {md5_hash60_sql("CAST(doc_id AS VARCHAR)")} AS h
      FROM documents),
    sharded AS (
      SELECT doc_id, n_tokens, h, h % {PACK_SHARDS} AS shard FROM toks
      WHERE n_tokens > 0),
    packed AS (
      SELECT doc_id, shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens
               AS start_offset
      FROM sharded)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(shard AS BIGINT) AS shard,
           CAST(n_tokens AS INT) AS n_tokens,
           CAST(start_offset AS BIGINT) AS start_offset,
           CAST(start_offset // {SEQ_LEN} AS BIGINT) AS start_chunk,
           CAST((start_offset + n_tokens - 1) // {SEQ_LEN} AS BIGINT) AS end_chunk
    FROM packed
    """,
    "GPT-style sequence packing: documents are concatenated in"
    " deterministic (md5) order within each shard and chunked at a"
    f" fixed context length ({SEQ_LEN} tokens) — each document's"
    " byte-exact chunk span (start_offset, start/end chunk ids) is"
    " emitted so the tokenised corpus can be laid out without a"
    " second pass",
    tags=("mlprep", "window"),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainer-side concat-and-chunk layout (as in GPT-2/3
    pretraining): one window sum per shard gives every document its
    global token offset, from which its chunk span is arithmetic.
    One shuffle (by shard); shard count = writer parallelism at
    scale. Offsets stay far below 2^53, so the floor-division is
    exact in both engines. The in-shard concat order is doc_id alone:
    it is unique, so the prefix sum is collision-proof — ordering by
    the 60-bit hash first (as an earlier revision did) adds nothing
    but cross-engine tie-break risk."""
    d = read_testdata(spark, sf_dir, "documents")
    h = md5_hash60(F.col("doc_id").cast("string"))
    toks = d.select(
        "doc_id",
        F.size(tokens("text")).cast("int").alias("n_tokens"),
        h.alias("h"),
    ).filter(F.col("n_tokens") > 0)
    sharded = toks.withColumn("shard", F.col("h") % PACK_SHARDS)
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sharded.withColumn(
        "start_offset", (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("bigint")
    )
    return packed.select(
        "doc_id",
        F.col("shard").cast("bigint").alias("shard"),
        "n_tokens",
        "start_offset",
        F.floor(F.col("start_offset") / SEQ_LEN).cast("bigint").alias("start_chunk"),
        F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / SEQ_LEN)
        .cast("bigint")
        .alias("end_chunk"),
    )


@register(
    "domain_mix_sampling",
    f"""
    WITH per_doc AS (
      SELECT doc_id, source,
             {md5_hash60_sql("CAST(doc_id AS VARCHAR)")} / {_H60_SCALE} AS u
      FROM documents),
    counts AS (
      SELECT source, COUNT(*) AS n_docs FROM per_doc GROUP BY source),
    weighted AS (
      SELECT source, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS w FROM counts),
    fracs AS (
      SELECT source, n_docs, w,
             w / SUM(w) OVER () AS p,
             LEAST(1.0, (SELECT SUM(n_docs) FROM counts) * {MIX_BUDGET_FRAC}
                        * (w / SUM(w) OVER ()) / n_docs) AS sample_frac
      FROM weighted)
    SELECT f.source, CAST(f.n_docs AS BIGINT) AS n_docs,
           ROUND(f.p, 6) AS mix_weight,
           ROUND(f.sample_frac, 6) AS sample_frac,
           CAST(COUNT(*) FILTER (WHERE d.u < f.sample_frac) AS BIGINT)
             AS sampled_docs
    FROM fracs f JOIN per_doc d USING (source)
    GROUP BY f.source, f.n_docs, f.p, f.sample_frac
    """,
    "temperature-based domain mixing (tau = 0.5): per-source sampling"
    " fractions proportional to sqrt(count), normalised to a fixed"
    f" corpus budget ({MIX_BUDGET_FRAC:.0%}), with the deterministic"
    " md5-uniform sample drawn and counted — the source-rebalancing"
    " step of every pretraining mix",
    tags=("mlprep", "agg", "sampling"),
)
def domain_mix_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sqrt as the temperature weight (tau = 0.5) because IEEE 754
    sqrt is correctly rounded — bit-identical across engines, where
    pow() is libm-dependent. The per-source table is tiny: the
    weight normalisation is a broadcast-size aggregate, and the
    sample itself is a map-side hash threshold (no shuffle of the
    corpus)."""
    d = read_testdata(spark, sf_dir, "documents")
    u = md5_hash60(F.col("doc_id").cast("string")) / F.lit(_H60_SCALE)
    per_doc = d.select("source", u.alias("u"))
    counts = per_doc.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    weighted = counts.withColumn("w", F.sqrt(F.col("n_docs").cast("double")))
    total_docs = F.sum("n_docs").over(Window.partitionBy())
    total_w = F.sum("w").over(Window.partitionBy())
    fracs = weighted.select(
        "source",
        "n_docs",
        (F.col("w") / total_w).alias("p"),
        F.least(
            F.lit(1.0),
            total_docs * F.lit(MIX_BUDGET_FRAC) * (F.col("w") / total_w) / F.col("n_docs"),
        ).alias("sample_frac"),
    )
    joined = per_doc.join(F.broadcast(fracs), "source")
    return joined.groupBy("source", "n_docs", "p", "sample_frac").agg(
        F.sum(F.when(F.col("u") < F.col("sample_frac"), 1).otherwise(0))
        .cast("bigint")
        .alias("sampled_docs")
    ).select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        round_compat("p", 6).alias("mix_weight"),
        round_compat("sample_frac", 6).alias("sample_frac"),
        "sampled_docs",
    )


@register(
    "stratified_sample_exact",
    f"""
    WITH ranked AS (
      SELECT doc_id, source, lang,
             ROW_NUMBER() OVER (
               PARTITION BY source, lang
               ORDER BY {md5_hash60_sql("CAST(doc_id AS VARCHAR)")}, doc_id)
               AS rk
      FROM documents)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source, lang,
           CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {STRATUM_K}
    """,
    f"exact stratified sampling: deterministic top-{STRATUM_K} per"
    " (source, lang) stratum by md5 order — exact per-stratum counts"
    " (unlike fraction-based sampling), the eval-set carve-out"
    " pattern",
    tags=("mlprep", "window", "sampling"),
)
def stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly k per stratum, deterministically: rank by md5 within
    each (source, lang) and keep rk <= k. One shuffle on the stratum
    key; the rank window never sees more than one stratum, so no
    global ordering bottleneck at scale."""
    d = read_testdata(spark, sf_dir, "documents")
    h = md5_hash60(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source", "lang").orderBy(h, "doc_id")
    return (
        d.select("doc_id", "source", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= STRATUM_K)
        .select("doc_id", "source", "lang", F.col("rk").cast("int").alias("rk"))
    )


@register(
    "global_shuffle_shards",
    f"""
    WITH hashed AS (
      SELECT doc_id,
             {md5_hash60_sql("CAST(doc_id AS VARCHAR)")} AS h
      FROM documents),
    sharded AS (
      SELECT doc_id, h, h % {SHUFFLE_SHARDS} AS shard FROM hashed)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(shard AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
                AS BIGINT) AS pos,
           CAST((ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1)
                * {SHUFFLE_SHARDS} + shard AS BIGINT) AS global_pos
    FROM sharded
    """,
    "deterministic global shuffle for training order: md5-derived"
    f" shard (x{SHUFFLE_SHARDS}) + within-shard position, plus the"
    " round-robin interleaved global position a data loader would"
    " read — reproducible epoch ordering without a global sort",
    tags=("mlprep", "window", "sampling"),
)
def global_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard scale-out shuffle: a global ORDER BY md5 would
    funnel the corpus through one range partitioner; sharding by
    h % S then ranking within shards keeps every window bounded and
    the interleaved global_pos still visits documents in md5-random
    order (loader reads round-robin across shards)."""
    d = read_testdata(spark, sf_dir, "documents")
    h = md5_hash60(F.col("doc_id").cast("string"))
    sharded = d.select("doc_id", h.alias("h")).withColumn(
        "shard", F.col("h") % SHUFFLE_SHARDS
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    pos = (F.row_number().over(w) - 1).cast("bigint")
    return sharded.select(
        "doc_id",
        F.col("shard").cast("bigint").alias("shard"),
        pos.alias("pos"),
        (pos * SHUFFLE_SHARDS + F.col("shard")).cast("bigint").alias("global_pos"),
    )


# PII patterns restricted to the RE2-and-Java-agreeing subset (no
# lookaround, no backreferences). The synthetic corpus carries no
# organic PII, so deterministic addresses are planted (doc_id-derived,
# built identically in both engines — same methodology as the sign-LSH
# planted twins): every 7th document gains an email, every 11th an
# IPv4.
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@register(
    "pii_redaction",
    f"""
    WITH planted AS (
      SELECT doc_id, source,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END
               AS text
      FROM documents),
    scanned AS (
      SELECT doc_id, source, text,
             len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
             len(regexp_extract_all(text, '{IPV4_RE}')) AS n_ips,
             regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                            '{IPV4_RE}', '<IP>', 'g') AS clean
      FROM planted)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
           CAST(n_emails AS INT) AS n_emails, CAST(n_ips AS INT) AS n_ips,
           CAST(length(text) AS INT) AS raw_len,
           CAST(length(clean) AS INT) AS clean_len,
           md5(clean) AS clean_md5
    FROM scanned WHERE n_emails > 0 OR n_ips > 0
    """,
    "PII detection + redaction: email / IPv4 regex scan (RE2-and-"
    "Java-agreeing patterns), counts and the md5 of the redacted text"
    " per affected document — deterministic planted addresses stand"
    " in for organic PII in the synthetic corpus",
    tags=("text", "mlprep", "filter"),
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only: regex extraction and replacement are JVM built-ins
    inside codegen; emitting md5(clean) pins the full redacted text
    against the oracle without hashing megabytes through the compare
    harness.

    Literal precheck before the regex passes (round-12 rework): an
    EMAIL_RE match REQUIRES an '@' and an IPV4_RE match REQUIRES a
    '.', so a document containing neither character can produce no
    match, no redaction, and no output row — it is dropped by a cheap
    codegen `contains` before any of the four regex scans run. The
    filter is exact by construction of the patterns (not a corpus
    assumption), and on this corpus it prunes ~84% of documents
    (only the planted 1/7 + 1/11 carry '@' or '.'), turning four
    full-corpus Java-regex passes into four passes over the planted
    subset (sf1, warm-session rounds: 0.77/0.65/0.64 s vs 2.98 s on
    the committed round-12 pair; identical rows/hash at sf0.01)."""
    d = spread(read_testdata(spark, sf_dir, "documents"))
    planted = d.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit("."),
                    (F.col("doc_id") % 250).cast("string"),
                ),
            ).otherwise(""),
        ).alias("text"),
    )
    planted = planted.filter(
        F.col("text").contains("@") | F.col("text").contains(".")
    )
    clean = F.regexp_replace(
        F.regexp_replace("text", EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
    )
    scanned = planted.select(
        "doc_id",
        "source",
        "text",
        F.size(F.regexp_extract_all("text", F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(IPV4_RE), 0)).alias("n_ips"),
        clean.alias("clean"),
    )
    return scanned.filter((F.col("n_emails") > 0) | (F.col("n_ips") > 0)).select(
        "doc_id",
        "source",
        F.col("n_emails").cast("int").alias("n_emails"),
        F.col("n_ips").cast("int").alias("n_ips"),
        F.length("text").cast("int").alias("raw_len"),
        F.length("clean").cast("int").alias("clean_len"),
        F.md5("clean").alias("clean_md5"),
    )


# Unigram LM quality threshold: ln p with a ~30-word vocabulary sits
# around ln(1/30) = -3.4 for typical docs; docs dominated by rare
# tokens score lower.
LM_KEEP_THRESHOLD = -4.5


@register(
    "unigram_lm_score",
    f"""
    WITH ex AS (
      SELECT doc_id, unnest({tokens_sql('text')}) AS tok FROM documents),
    vocab AS (
      SELECT tok, COUNT(*) AS c FROM ex GROUP BY tok),
    total AS (SELECT COUNT(*) AS t FROM ex),
    scored AS (
      SELECT e.doc_id, COUNT(*) AS n_tokens,
             AVG(ln(v.c)) - ANY_VALUE(ln(total.t)) AS lp
      FROM ex e JOIN vocab v USING (tok) CROSS JOIN total
      GROUP BY e.doc_id)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_tokens AS INT) AS n_tokens,
           ROUND(lp, 6) AS avg_logprob,
           lp >= {LM_KEEP_THRESHOLD} AS keep
    FROM scored
    """,
    "unigram LM quality score (CCNet-style): corpus-trained token"
    " probabilities, per-document mean log-probability and a keep"
    " flag — documents of rare/garbage tokens score low. Uses"
    " avg(ln c) - ln(total) == avg(ln(c/total)), so the corpus total"
    " enters once as a scalar",
    tags=("text", "mlprep", "filter", "headline"),
)
def unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-and-score in one plan: the vocabulary is a token-keyed
    aggregate JOINED back to the exploded corpus (not broadcast —
    at 100 TB the vocabulary is huge; the join shuffles on token,
    bounded by vocabulary skew which AQE splits). The corpus total
    enters as an in-plan 1-row broadcast aggregate (lazy builder,
    execution-time-consistent — the advisor's scalar-subquery
    pattern). Mean of ln(count) per doc is rounded at 1e-6
    (summation order differs across engines)."""
    d = spread(read_testdata(spark, sf_dir, "documents"))
    ex = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    vocab = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    t1 = ex.agg(F.count(F.lit(1)).cast("double").alias("corpus_total"))
    scored = (
        ex.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.avg(F.log("c")).alias("avg_ln_c"),
        )
        .crossJoin(F.broadcast(t1))
        .select(
            "doc_id",
            "n_tokens",
            (F.col("avg_ln_c") - F.log("corpus_total")).alias("lp"),
        )
    )
    return scored.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_tokens",
        round_compat("lp", 6).alias("avg_logprob"),
        (F.col("lp") >= LM_KEEP_THRESHOLD).alias("keep"),
    )


# Sliding-window chunking (RAG / embedding prep): window of CHUNK_W
# tokens advancing by CHUNK_STRIDE (overlap = CHUNK_W - CHUNK_STRIDE).
CHUNK_W = 64
CHUNK_STRIDE = 48


@register(
    "chunk_sliding_windows",
    f"""
    WITH base AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
    sized AS (
      SELECT doc_id, t, len(t) AS n FROM base WHERE len(t) > 0),
    chunks AS (
      SELECT doc_id, n, t,
             unnest(range(0, (greatest(n - {CHUNK_W}, 0) + {CHUNK_STRIDE} - 1)
                             // {CHUNK_STRIDE} + 1)) AS chunk_id
      FROM sized)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(chunk_id AS INT) AS chunk_id,
           CAST(len(list_slice(t, chunk_id * {CHUNK_STRIDE} + 1,
                               chunk_id * {CHUNK_STRIDE} + {CHUNK_W}))
                AS INT) AS chunk_len,
           md5(array_to_string(
                 list_slice(t, chunk_id * {CHUNK_STRIDE} + 1,
                            chunk_id * {CHUNK_STRIDE} + {CHUNK_W}), ' '))
             AS chunk_md5
    FROM chunks
    """,
    f"sliding-window chunking for retrieval/embedding prep: {CHUNK_W}"
    f"-token windows, stride {CHUNK_STRIDE} (overlap"
    f" {CHUNK_W - CHUNK_STRIDE}), each chunk's exact text pinned by"
    " md5 — the chunker every RAG ingestion pipeline runs",
    tags=("text", "mlprep", "reshape", "headline"),
)
def chunk_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-side explode: sequence(0, n_chunks-1) -> slice — the output
    is ~n/stride rows per document with no shuffle at all; chunk text
    is pinned via md5 rather than shipping the strings through the
    compare harness."""
    d = spread(read_testdata(spark, sf_dir, "documents"))
    base = d.select("doc_id", tokens("text").alias("t")).filter(F.size("t") > 0)
    n = F.size("t")
    n_chunks = (
        F.floor(
            (F.greatest(n - CHUNK_W, F.lit(0)) + CHUNK_STRIDE - 1) / CHUNK_STRIDE
        ).cast("int")
        + 1
    )
    chunks = base.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    sl = F.slice("t", F.col("chunk_id") * CHUNK_STRIDE + 1, CHUNK_W)
    return chunks.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(sl).cast("int").alias("chunk_len"),
        F.md5(F.array_join(sl, " ")).alias("chunk_md5"),
    )


# Duplicated-span detection (the exact-substring half of dedup, after
# Lee et al. 2021's "Deduplicating Training Data Makes Language Models
# Better"): any SPAN_N-token window shared verbatim across >= 2
# documents is a duplicated span. A document mostly made of such
# spans is boilerplate/template text even when no whole-document
# near-dup fires.
SPAN_N = 8
DUP_FRAC_MAX = 0.5


@register(
    "dup_ngram_spans",
    f"""
    WITH base AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
    g AS (
      SELECT doc_id, {word_shingles_sql('t', SPAN_N)} AS gr
      FROM base WHERE len(t) >= {SPAN_N}),
    grams AS (
      SELECT doc_id, generate_subscripts(gr, 1) AS pos,
             md5(unnest(gr)) AS gh
      FROM g),
    dups AS (
      SELECT gh FROM grams GROUP BY gh
      HAVING COUNT(DISTINCT doc_id) >= 2),
    fl AS (
      SELECT gr.doc_id, gr.pos, (d.gh IS NOT NULL) AS isdup
      FROM grams gr LEFT JOIN dups d USING (gh)),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_ngrams,
             SUM(CASE WHEN isdup THEN 1 ELSE 0 END) AS n_dup
      FROM fl GROUP BY doc_id),
    runs AS (
      SELECT doc_id,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS island
      FROM fl WHERE isdup),
    rlen AS (
      SELECT doc_id, island, COUNT(*) AS rl FROM runs
      GROUP BY doc_id, island),
    mx AS (SELECT doc_id, MAX(rl) AS max_run FROM rlen GROUP BY doc_id)
    SELECT CAST(a.doc_id AS BIGINT) AS doc_id,
           CAST(a.n_ngrams AS INT) AS n_ngrams,
           CAST(a.n_dup AS INT) AS n_dup_ngrams,
           ROUND(a.n_dup * 1.0 / a.n_ngrams * 1e6, 0) / 1e6 AS dup_frac,
           CAST(COALESCE(mx.max_run + {SPAN_N - 1}, 0) AS INT)
             AS max_dup_span_tokens,
           a.n_dup * 1.0 / a.n_ngrams <= {DUP_FRAC_MAX} AS keep
    FROM agg a LEFT JOIN mx USING (doc_id)
    """,
    f"duplicated-span detection: verbatim {SPAN_N}-token windows"
    " shared across documents, per-document duplicated fraction and"
    " the longest contiguous duplicated span — the exact-substring"
    " dedup signal (Lee et al.) complementing whole-document MinHash",
    tags=("dedup", "text", "mlprep", "headline"),
)
def dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exact-substring detection without suffix arrays:
    every document emits its rolling {SPAN_N}-gram md5s (map-side),
    one groupBy finds hashes seen in >= 2 distinct documents, and a
    join back flags each position. Contiguous flagged positions merge
    into spans via the gaps-and-islands window (pos - row_number), so
    the longest shared span needs no pairwise comparison at all —
    cost is one shuffle on gram hash + one window on doc_id, linear
    in corpus size. At 100 TB the gram-hash aggregate is the big
    shuffle; it is a plain hash aggregate, AQE-splittable, and the
    hash (16 bytes) rides instead of the 8-token text."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope

    d = spread(read_testdata(spark, sf_dir, "documents"))
    base = d.select("doc_id", tokens("text").alias("t")).filter(
        F.size("t") >= SPAN_N
    )
    # explode an index sequence, then assemble each gram with
    # element_at — NOT posexplode(word_shingles(...)): a generator
    # over a higher-order-function array re-evaluates the whole HOF
    # chain per output row with no codegen (the _shingle_sets lesson;
    # measured 28 s vs 2 s for this query at sf0.1).
    idx = base.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(1), F.size("t") - F.lit(SPAN_N - 1))
        ).alias("pos"),
    )
    scope = CacheScope("dup_ngram_spans")
    grams = scope.persist(
        idx.select(
            "doc_id",
            "pos",
            F.md5(
                F.concat_ws(
                    " ",
                    *[
                        F.element_at("t", F.col("pos") + F.lit(j))
                        for j in range(SPAN_N)
                    ],
                )
            ).alias("gh"),
        )
    )
    dups = (
        grams.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh", F.lit(True).alias("isdup"))
    )
    fl = grams.join(dups, "gh", "left").select(
        "doc_id", "pos", F.coalesce("isdup", F.lit(False)).alias("isdup")
    )
    agg = fl.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_ngrams"),
        F.sum(F.when(F.col("isdup"), 1).otherwise(0))
        .cast("int")
        .alias("n_dup_ngrams"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        fl.filter("isdup")
        .select("doc_id", (F.col("pos") - F.row_number().over(w)).alias("island"))
        .groupBy("doc_id", "island")
        .agg(F.count(F.lit(1)).alias("rl"))
        .groupBy("doc_id")
        .agg(F.max("rl").alias("max_run"))
    )
    return agg.join(runs, "doc_id", "left").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_ngrams",
        "n_dup_ngrams",
        round_compat(F.col("n_dup_ngrams") / F.col("n_ngrams"), 6).alias(
            "dup_frac"
        ),
        F.coalesce(F.col("max_run") + (SPAN_N - 1), F.lit(0))
        .cast("int")
        .alias("max_dup_span_tokens"),
        (F.col("n_dup_ngrams") / F.col("n_ngrams") <= DUP_FRAC_MAX).alias(
            "keep"
        ),
    )


# DSIR-style importance weighting (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling"): score every
# document by the log-likelihood ratio of a target-domain unigram LM
# vs the background corpus LM, both with add-one smoothing over the
# shared vocabulary. Here the target distribution is the English
# slice (lang = 'en') and the background is the whole corpus.
DSIR_TARGET_LANG = "en"


@register(
    "dsir_importance_weight",
    f"""
    WITH ex AS (
      SELECT doc_id, lang, unnest({tokens_sql('text')}) AS tok
      FROM documents),
    vocab AS (
      SELECT tok, COUNT(*) AS c_all,
             SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
               AS c_t
      FROM ex GROUP BY tok),
    tot AS (
      SELECT COUNT(*) AS v, SUM(c_all) AS t_b, SUM(c_t) AS t_t FROM vocab),
    scored AS (
      SELECT e.doc_id, e.lang, COUNT(*) AS n_tokens,
             AVG(ln((vc.c_t + 1.0) / (tot.t_t + tot.v))
                 - ln((vc.c_all + 1.0) / (tot.t_b + tot.v))) AS r
      FROM ex e JOIN vocab vc USING (tok) CROSS JOIN tot
      GROUP BY e.doc_id, e.lang)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
           CAST(n_tokens AS INT) AS n_tokens,
           ROUND(r * 1e6, 0) / 1e6 AS avg_log_ratio,
           r > 0 AS is_targetlike
    FROM scored
    """,
    "DSIR-style importance weighting: per-document mean log-ratio of"
    f" a target ('{DSIR_TARGET_LANG}') unigram LM vs the background"
    " corpus LM (add-one smoothing, shared vocabulary) — the"
    " data-selection score used to resample a raw corpus toward a"
    " target domain",
    tags=("text", "mlprep", "filter", "headline"),
)
def dsir_importance_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same scale shape as unigram_lm_score: the vocabulary (token ->
    background count, target count) is trained and joined back in one
    plan — never broadcast, the shuffle is on token and AQE splits
    skew. The three corpus totals (vocab size, token totals) are one
    1-row scalar collect. Both LMs share the smoothing denominator's
    vocabulary, so the ratio is exactly the DSIR hashed-ngram score
    at n=1."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope

    scope = CacheScope("dsir_importance_weight")
    d = spread(read_testdata(spark, sf_dir, "documents"))
    # persisted: ex feeds the vocabulary aggregate AND the scoring
    # re-join; vocab feeds the scalar totals AND the join — without
    # the persists the tokenize+explode subtree executes three times.
    ex = scope.persist(
        d.select("doc_id", "lang", F.explode(tokens("text")).alias("tok"))
    )
    vocab = scope.persist(
        ex.groupBy("tok").agg(
            F.count(F.lit(1)).alias("c_all"),
            F.sum(
                F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
            ).alias("c_t"),
        )
    )
    v, t_b, t_t = vocab.agg(
        F.count(F.lit(1)), F.sum("c_all"), F.sum("c_t")
    ).collect()[0]
    ratio = F.log((F.col("c_t") + 1.0) / F.lit(float(t_t + v))) - F.log(
        (F.col("c_all") + 1.0) / F.lit(float(t_b + v))
    )
    scored = (
        ex.join(vocab, "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.avg(ratio).alias("r"),
        )
    )
    return scored.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "lang",
        "n_tokens",
        round_compat("r", 6).alias("avg_log_ratio"),
        (F.col("r") > 0).alias("is_targetlike"),
    )


def _gate_oracle() -> str:
    """Compose the registered gate oracles as CTE bodies (each is a
    self-contained SELECT over the ``documents`` view, so embedding
    them keeps this oracle definitionally in sync with the individual
    gates)."""
    from aws_etl_global_footprint_network_spark.registry import REGISTRY

    rep = REGISTRY["repetition_filters"].oracle
    lm = REGISTRY["unigram_lm_score"].oracle
    span = REGISTRY["dup_ngram_spans"].oracle
    dsir = REGISTRY["dsir_importance_weight"].oracle
    return f"""
    WITH rep AS ({rep}),
    lm AS ({lm}),
    span AS ({span}),
    dsir AS ({dsir})
    SELECT CAST(lm.doc_id AS BIGINT) AS doc_id,
           COALESCE(rep.keep, FALSE) AS repetition_keep,
           lm.keep AS lm_keep,
           COALESCE(span.keep, TRUE) AS dup_span_keep,
           COALESCE(dsir.is_targetlike, FALSE) AS dsir_targetlike,
           (COALESCE(rep.keep, FALSE) AND lm.keep
            AND COALESCE(span.keep, TRUE)) AS keep
    FROM lm
    LEFT JOIN rep USING (doc_id)
    LEFT JOIN span USING (doc_id)
    LEFT JOIN dsir USING (doc_id)
    """


@register(
    "corpus_quality_gates",
    _gate_oracle(),
    "unified per-document quality-gate table: repetition, unigram-LM"
    " and duplicated-span gates joined into one keep/drop decision"
    " (plus the DSIR target-domain flag as a sampling signal) — the"
    " decision table a corpus-curation run materialises before"
    " dropping anything",
    tags=("text", "mlprep", "filter", "pipeline"),
)
def corpus_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composes the individual gate operators' DataFrames — Catalyst
    sees ONE plan, so the documents scan and tokenisation are shared
    via the gates' own persisted intermediates, and each gate's
    semantics stay defined in exactly one place. Join semantics:
    unigram-LM covers every tokenisable document (the base);
    repetition is NULL for docs under 3 tokens (too short = drop);
    dup-span is NULL for docs under 8 tokens (no span evidence =
    keep). DSIR rides as a flag, not a gate — domain selection is a
    sampling weight, not a quality drop."""
    lm = unigram_lm_score(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("lm_keep")
    )
    rep = repetition_filters(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("rep_keep")
    )
    span = dup_ngram_spans(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("span_keep")
    )
    dsir = dsir_importance_weight(spark, sf_dir).select(
        "doc_id", F.col("is_targetlike").alias("dsir_flag")
    )
    return (
        lm.join(rep, "doc_id", "left")
        .join(span, "doc_id", "left")
        .join(dsir, "doc_id", "left")
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.coalesce("rep_keep", F.lit(False)).alias("repetition_keep"),
            F.col("lm_keep"),
            F.coalesce("span_keep", F.lit(True)).alias("dup_span_keep"),
            F.coalesce("dsir_flag", F.lit(False)).alias("dsir_targetlike"),
            (
                F.coalesce("rep_keep", F.lit(False))
                & F.col("lm_keep")
                & F.coalesce("span_keep", F.lit(True))
            ).alias("keep"),
        )
    )
