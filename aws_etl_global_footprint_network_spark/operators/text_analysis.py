"""Text-analysis operators over ``documents`` ([EXT]): quality stats,
token counting, language-ID heuristic, document fingerprinting.

All pure column expressions (split + higher-order array functions) —
the entire module runs inside whole-stage codegen, no Python in the
hot path, so throughput scales with executor cores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions.hashing import (
    P31,
    hash31_sql,
    md5_hash60,
)
from aws_etl_global_footprint_network_spark.functions.text import tokens, tokens_sql
from aws_etl_global_footprint_network_spark.functions.compat import round_compat
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata, spread

# Stopword marker set for the language heuristic (English function
# words; the quality score also counts them as "glue").
STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")
_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


@register(
    "text_quality_stats",
    f"""
    WITH base AS (
      SELECT doc_id, lang, n_chars, {tokens_sql('text')} AS t FROM documents)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
           CAST(len(t) AS INT) AS n_tokens,
           CAST(len(list_distinct(t)) AS INT) AS n_distinct,
           ROUND(len(list_distinct(t)) * 1.0 / len(t), 6) AS distinct_ratio,
           ROUND(length(array_to_string(t, '')) * 1.0 / len(t), 4)
             AS avg_token_len,
           ROUND(len(list_filter(t, x -> list_contains({_STOP_SQL}, x)))
                 * 1.0 / len(t), 6) AS stopword_ratio,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM base WHERE len(t) > 0
    """,
    "per-document quality stats: token counts, type/token ratio,"
    " stopword ratio",
    tags=("text", "headline"),
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_testdata(spark, sf_dir, "documents")
    t = tokens("text")
    base = d.select("doc_id", "lang", "n_chars", t.alias("t")).filter(
        F.size("t") > 0
    )
    n = F.size("t")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    return base.select(
        "doc_id",
        "lang",
        n.cast("int").alias("n_tokens"),
        F.size(F.array_distinct("t")).cast("int").alias("n_distinct"),
        round_compat(F.size(F.array_distinct("t")) / n, 6).alias("distinct_ratio"),
        round_compat(F.length(F.array_join("t", "")) / n, 4).alias("avg_token_len"),
        round_compat(
            F.size(F.filter("t", lambda x: F.array_contains(stop_arr, x))) / n, 6
        ).alias("stopword_ratio"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


@register(
    "lang_id_heuristic",
    f"""
    WITH base AS (
      SELECT doc_id, lang, {tokens_sql('text')} AS t FROM documents),
    scored AS (
      SELECT doc_id, lang,
             len(list_filter(t, x -> list_contains({_STOP_SQL}, x)))
               * 1.0 / len(t) AS en_score
      FROM base WHERE len(t) > 0)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
           ROUND(en_score, 6) AS en_score,
           CASE WHEN en_score >= 0.05 THEN 'en' ELSE 'other' END AS predicted
    FROM scored
    """,
    "n-gram/stopword language-ID heuristic with prediction column",
    tags=("text",),
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real language-ID model is a dictionary of per-language n-gram
    weights broadcast to executors; the heuristic here keeps the same
    shape (marker-token ratio -> argmax) with one language class."""
    d = read_testdata(spark, sf_dir, "documents")
    base = d.select("doc_id", "lang", tokens("text").alias("t")).filter(
        F.size("t") > 0
    )
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    en_score = F.size(F.filter("t", lambda x: F.array_contains(stop_arr, x))) / F.size("t")
    return base.select(
        "doc_id",
        "lang",
        round_compat(en_score, 6).alias("en_score"),
        F.when(en_score >= 0.05, "en").otherwise("other").alias("predicted"),
    )


@register(
    "doc_fingerprint",
    f"""
    WITH base AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM documents)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           list_reduce(
             list_prepend(0::BIGINT,
               list_transform(t, x -> {hash31_sql('x')})),
             (acc, h) -> (acc * 31 + h) % {P31}) AS fingerprint
    FROM base
    """,
    "order-sensitive polynomial rolling-hash document fingerprint",
    tags=("text", "dedup", "headline"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unlike the set-based minhash, this fingerprint is
    order-sensitive (content-defined): same tokens reordered give a
    different fingerprint. Left fold, identical in both engines."""
    d = spread(read_testdata(spark, sf_dir, "documents"))
    t = tokens("text")
    fp = F.aggregate(
        F.transform(t, lambda x: md5_hash60(x) % F.lit(P31)),
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * 31 + h) % F.lit(P31),
    )
    return d.select("doc_id", fp.alias("fingerprint"))


@register(
    "token_count_per_source",
    f"""
    WITH base AS (
      SELECT source, lang, {tokens_sql('text')} AS t FROM documents)
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(len(t)) AS BIGINT) AS total_tokens,
           ROUND(AVG(len(t)), 4) AS avg_tokens
    FROM base GROUP BY source, lang
    """,
    "corpus token accounting per (source, lang) — the budgeting query"
    " every training-data pipeline runs",
    tags=("text", "agg", "headline"),
)
def token_count_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_testdata(spark, sf_dir, "documents")
    base = d.select("source", "lang", F.size(tokens("text")).alias("n"))
    return base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("bigint").alias("total_tokens"),
        round_compat(F.avg("n"), 4).alias("avg_tokens"),
    )


# GPT-2-style byte-pair-encoding pre-tokenizer pattern, restricted to
# the RE2/Java-common subset (the original's trailing-whitespace
# lookahead `\s+(?!\S)` is dropped — RE2 has no lookahead): English
# contraction suffixes, space-prefixed letter runs, space-prefixed
# digit runs, space-prefixed punctuation runs, whitespace runs.
# Verified to split identically in Spark (Java regex) and DuckDB (RE2)
# on contraction/digit/punctuation/whitespace fixtures
# (tests/test_text_bpe.py).
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


@register(
    "bpe_token_stats",
    f"""
    WITH base AS (
      SELECT source, lang,
             regexp_extract_all(text, '{BPE_PATTERN.replace("'", "''")}')
               AS t
      FROM documents)
    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(t)) AS BIGINT) AS total_bpe_tokens,
           CAST(SUM(len(list_filter(t, x -> trim(x) = ''))) AS BIGINT)
             AS ws_only_tokens,
           ROUND(AVG(len(t)), 4) AS avg_bpe_tokens
    FROM base GROUP BY source, lang
    """,
    "BPE-ish token accounting per (source, lang): GPT-2-style regex"
    " pre-tokenization (contractions / letter runs / digit runs /"
    " punctuation / whitespace) in the RE2-and-Java-agreeing subset —"
    " the budget a subword tokenizer would actually see, vs the"
    " whitespace counts of token_count_per_source",
    tags=("text", "agg", "headline"),
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-side regex extraction + one groupBy — JVM codegen all the
    way (regexp_extract_all is a built-in), no Python in the loop."""
    d = read_testdata(spark, sf_dir, "documents")
    t = F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0)
    base = d.select("source", "lang", t.alias("t"))
    ws_only = F.size(F.filter("t", lambda x: F.trim(x) == ""))
    return base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size("t")).cast("bigint").alias("total_bpe_tokens"),
        F.sum(ws_only).cast("bigint").alias("ws_only_tokens"),
        round_compat(F.avg(F.size("t")), 4).alias("avg_bpe_tokens"),
    )


# PMI collocations: minimum bigram count to score (rare pairs have
# unstable PMI and would dominate the ranking with noise).
PMI_MIN_PAIR = 5


@register(
    "token_pmi_bigrams",
    f"""
    WITH base AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
    uni AS (
      SELECT unnest(t) AS tok FROM base),
    ucnt AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok),
    tot AS (SELECT COUNT(*) AS t_uni FROM uni),
    bg AS (
      SELECT unnest({{shingles}}) AS bigram
      FROM (SELECT {tokens_sql('text')} AS t FROM documents)),
    bcnt AS (SELECT bigram, COUNT(*) AS c_pair FROM bg GROUP BY bigram),
    btot AS (SELECT COUNT(*) AS t_bi FROM bg),
    scored AS (
      SELECT b.bigram, b.c_pair, ua.c AS c_a, ub.c AS c_b,
             ln(b.c_pair * 1.0 / btot.t_bi)
               - ln(ua.c * 1.0 / tot.t_uni)
               - ln(ub.c * 1.0 / tot.t_uni) AS pmi
      FROM bcnt b
      JOIN ucnt ua ON ua.tok = string_split(b.bigram, ' ')[1]
      JOIN ucnt ub ON ub.tok = string_split(b.bigram, ' ')[2]
      CROSS JOIN tot CROSS JOIN btot
      WHERE b.c_pair >= {PMI_MIN_PAIR})
    SELECT bigram, CAST(c_pair AS BIGINT) AS c_pair,
           CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
           ROUND(pmi * 1e6, 0) / 1e6 AS pmi
    FROM scored
    """.format(shingles="list_transform(range(1, greatest(len(t) - 1, 0) + 1),"
               " i -> t[i] || ' ' || t[i+1])"),
    f"pointwise-mutual-information collocation mining: corpus bigram"
    f" counts vs unigram marginals, scored for pairs seen >="
    f" {PMI_MIN_PAIR} times — the phrase-detection pass (word2vec-style"
    " phrase merging) of a text prep pipeline",
    tags=("text", "mlprep", "agg", "headline"),
)
def token_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI = ln p(ab) - ln p(a) - ln p(b). One-pass corpus count
    (round-10 verdict item 3): a single tokenize+explode emits BOTH
    gram kinds per document — every unigram (prefixed ``u``) and
    every bigram (prefixed ``b``, space-joined) — and ONE groupBy
    counts them together; unigrams and bigrams re-split on the space
    (a whitespace-tokenized token cannot contain one). The marginal
    attach is also one-pass: each surviving bigram explodes into two
    (side, token) rows, joins the unigram table ONCE on the single
    token key (vocabulary joined, never broadcast — at 100 TB it is
    huge and skew-split by AQE), and a groupBy(bigram) pivots the two
    marginals back onto one row. sf1 A/B (``git show
    cf696a5:scripts/ab_pmi.py``), one warm session, 2 alternating
    rounds, cache cleared between runs: two-explode +
    two-marginal-join form 3.51/3.30 s -> one-join
    3.24/3.48 s (the joins were never the bottleneck) -> THIS
    combined form 1.76/1.48 s (the second corpus explode+shuffle
    was). The corpus totals enter as two scalar counts (1-row
    broadcast cross-joins, the whitelisted scalar-subquery pattern):
    the builder stays lazy and the totals reflect execution-time
    data, matching the oracle's scalar subqueries. The three ln()
    terms are written in the same order on both sides, so only the
    counts (integers, exact) differ-proof the arithmetic; rounded at
    1e-6 anyway for the division."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope

    d = spread(read_testdata(spark, sf_dir, "documents"))
    base = d.select(tokens("text").alias("t"))
    scope = CacheScope("token_pmi_bigrams")
    grams = base.select(
        F.explode(
            F.concat(
                F.transform("t", lambda x: F.concat(F.lit("u"), x)),
                F.zip_with(
                    F.slice("t", 1, F.greatest(F.size("t") - 1, F.lit(0))),
                    F.slice("t", 2, F.greatest(F.size("t") - 1, F.lit(0))),
                    lambda a, b: F.concat_ws(" ", F.concat(F.lit("b"), a), b),
                ),
            )
        ).alias("g")
    )
    cnt = scope.persist(grams.groupBy("g").agg(F.count(F.lit(1)).alias("c")))
    ucnt = scope.persist(
        cnt.where(~F.col("g").contains(" ")).select(
            F.expr("substring(g, 2)").alias("tok"), "c"
        )
    )
    bcnt = scope.persist(
        cnt.where(F.col("g").contains(" ")).select(
            F.expr("substring(g, 2)").alias("bigram"),
            F.col("c").alias("c_pair"),
        )
    )
    tu1 = ucnt.agg(F.sum("c").cast("bigint").alias("t_uni"))
    tb1 = bcnt.agg(F.sum("c_pair").cast("bigint").alias("t_bi"))
    two = bcnt.filter(F.col("c_pair") >= PMI_MIN_PAIR).select(
        "bigram",
        "c_pair",
        F.explode(
            F.create_map(
                F.lit("a"),
                F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)),
                F.lit("b"),
                F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)),
            )
        ).alias("side", "tok"),
    )
    piv = two.join(ucnt, "tok").groupBy("bigram", "c_pair").agg(
        F.max(F.when(F.col("side") == "a", F.col("c"))).alias("c_a"),
        F.max(F.when(F.col("side") == "b", F.col("c"))).alias("c_b"),
    )
    pmi = (
        F.log(F.col("c_pair") * 1.0 / F.col("t_bi"))
        - F.log(F.col("c_a") * 1.0 / F.col("t_uni"))
        - F.log(F.col("c_b") * 1.0 / F.col("t_uni"))
    )
    return (
        piv.crossJoin(F.broadcast(tu1))
        .crossJoin(F.broadcast(tb1))
        .select(
            "bigram",
            F.col("c_pair").cast("bigint").alias("c_pair"),
            F.col("c_a").cast("bigint").alias("c_a"),
            F.col("c_b").cast("bigint").alias("c_b"),
            round_compat(pmi, 6).alias("pmi"),
        )
    )


# Vocabulary sizes for the coverage/OOV curve (tokenizer budget
# planning: what fraction of token occurrences does a top-V
# vocabulary cover).
VOCAB_SIZES = (10, 20, 30)


@register(
    "vocab_coverage",
    f"""
    WITH tok AS (
      SELECT unnest({tokens_sql('text')}) AS tok FROM documents),
    vc AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    tot AS (SELECT SUM(c) AS t, COUNT(*) AS vsz FROM vc),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rnk FROM vc),
    vs AS (SELECT unnest([{', '.join(str(v) for v in VOCAB_SIZES)}]) AS v)
    SELECT CAST(vs.v AS INT) AS v,
           CAST(SUM(r.c) AS BIGINT) AS covered_tokens,
           CAST(ANY_VALUE(tot.t) AS BIGINT) AS total_tokens,
           ROUND(SUM(r.c) * 1.0 / ANY_VALUE(tot.t) * 1e6, 0) / 1e6
             AS coverage,
           CAST(ANY_VALUE(tot.vsz) AS BIGINT) AS vocab_size
    FROM vs JOIN ranked r ON r.rnk <= vs.v CROSS JOIN tot
    GROUP BY vs.v
    """,
    "tokenizer-budget coverage curve: fraction of token occurrences"
    f" covered by a top-V vocabulary for V in {VOCAB_SIZES} — the"
    " OOV-rate dial every vocabulary-size decision reads",
    tags=("text", "mlprep", "agg"),
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe global top-V without a single-partition window: each
    V's covered mass comes from ``orderBy(count desc).limit(V)`` — a
    distributed TakeOrdered (per-partition partial top-V, then a
    V-row merge on the driver side of the exchange), so the full
    vocabulary is never sorted through one task. The corpus totals
    are one 1-row aggregate. At a 100 TB corpus the vocabulary
    aggregate is the only big shuffle; the per-V passes touch V rows
    each."""
    d = spread(read_testdata(spark, sf_dir, "documents"))
    toks = d.select(F.explode(tokens("text")).alias("tok"))
    vc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope

    scope = CacheScope("vocab_coverage")
    vc = scope.persist(vc)
    # corpus totals in-plan (1-row broadcast cross-join) — lazy
    # builder, execution-time-consistent totals, one fewer driver job
    totals = vc.agg(
        F.sum("c").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
    )
    parts = []
    for v in VOCAB_SIZES:
        top = vc.orderBy(F.col("c").desc(), "tok").limit(v)
        parts.append(
            top.agg(
                F.lit(v).cast("int").alias("v"),
                F.sum("c").cast("bigint").alias("covered_tokens"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.crossJoin(F.broadcast(totals)).select(
        "v",
        "covered_tokens",
        "total_tokens",
        round_compat(
            F.col("covered_tokens") / F.col("total_tokens").cast("double"), 6
        ).alias("coverage"),
        "vocab_size",
    )


# --------------------------------------------------------------------
# Skip-gram PPMI co-occurrence (the GloVe / word2vec count builder)
# --------------------------------------------------------------------

# Symmetric context window width and the minimum pair count (same
# small-count rationale as PMI_MIN_PAIR: sub-5 pairs carry unstable
# PMI and would dominate the ranking with noise).
SKIP_WINDOW = 3
SKIP_MIN_PAIR = 5


@register(
    "skipgram_ppmi_cooccurrence",
    f"""
    WITH base AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
    pos AS MATERIALIZED (
      SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS p
      FROM base),
    lef AS (
      SELECT doc_id, p + k.k AS jp, tok AS tok_a
      FROM pos CROSS JOIN (SELECT unnest(range(1, {SKIP_WINDOW + 1})) AS k) k),
    pairs AS (
      SELECT least(l.tok_a, r.tok) AS tok_lo,
             greatest(l.tok_a, r.tok) AS tok_hi
      FROM lef l JOIN pos r ON r.doc_id = l.doc_id AND r.p = l.jp),
    pc AS MATERIALIZED (
      SELECT tok_lo, tok_hi, COUNT(*) AS c_pair
      FROM pairs GROUP BY 1, 2),
    uc AS (SELECT tok, COUNT(*) AS c FROM pos GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_tok FROM pos),
    tp AS (SELECT SUM(c_pair) AS t_pair FROM pc)
    SELECT tok_lo, tok_hi, CAST(c_pair AS BIGINT) AS c_pair,
           CAST(ua.c AS BIGINT) AS c_lo, CAST(ub.c AS BIGINT) AS c_hi,
           ROUND(greatest(0.0,
             ln(c_pair * 1.0 / tp.t_pair)
               - ln(ua.c * 1.0 / n.n_tok)
               - ln(ub.c * 1.0 / n.n_tok)) * 1e6, 0) / 1e6 AS ppmi
    FROM pc
    JOIN uc ua ON ua.tok = pc.tok_lo
    JOIN uc ub ON ub.tok = pc.tok_hi
    CROSS JOIN n CROSS JOIN tp
    WHERE c_pair >= {SKIP_MIN_PAIR}
    """,
    f"skip-gram co-occurrence counts (symmetric window +-{SKIP_WINDOW})"
    " scored with positive PMI — the count-matrix builder behind"
    " GloVe / word2vec-style embedding training, built with shifted-"
    "copy equi-joins (never a per-document quadratic self-join)",
    tags=("text", "mlprep", "agg", "headline"),
)
def skipgram_ppmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed co-occurrence WITHOUT the quadratic trap: joining the
    position table to itself on doc_id alone and filtering
    |p_a - p_b| <= W builds len(doc)^2 intermediate pairs per
    document — ruinous on long documents at corpus scale.

    Round-8 rewrite (6.8 s -> ~2 s at sf1): the previous form
    replicated every position W times and equi-joined back on
    (doc_id, position) — correct and linear, but a W*n_tokens-row
    shuffle join. The window is POSITIONAL within one document's
    token array, so no join is needed at all: explode the anchor
    index i, take tok_a = t[i] and tok_b from slice(t, i+2,
    min(W, len-i-1)) — every (t[i], t[i+k]) pair for k = 1..W
    generates MAP-SIDE (the basket-array recipe from the co-purchase
    miners; plain codegen generators, not HOF lambdas). One pair
    shuffle total. Pair counts canonicalise to the unordered
    (lo, hi) key; unigram marginals JOIN by token key (never
    broadcast-hinted); corpus totals enter as 1-row in-plan
    broadcast aggregates. PPMI = max(0, ln p(ab) - ln p(a)
    - ln p(b)) with the ln terms in identical order on both sides,
    rounded at 1e-6."""
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope

    d = spread(read_testdata(spark, sf_dir, "documents"))
    scope = CacheScope("skipgram_ppmi_cooccurrence")
    base = scope.persist(d.select("doc_id", tokens("text").alias("t")))
    # the size filter guards only the pair generator (sequence(0, -1)
    # would descend); unigram marginals still count EVERY token,
    # single-token docs included, exactly as the oracle does
    from aws_etl_global_footprint_network_spark.functions.baskets import (
        explode_sorted_pairs,
    )

    pairs = explode_sorted_pairs(
        base, "t", "tok_a", "tok_b", max_span=SKIP_WINDOW
    ).select(
        F.least("tok_a", "tok_b").alias("tok_lo"),
        F.greatest("tok_a", "tok_b").alias("tok_hi"),
    )
    pc = scope.persist(
        pairs.groupBy("tok_lo", "tok_hi").agg(
            F.count(F.lit(1)).alias("c_pair")
        )
    )
    uc = scope.persist(
        base.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n1 = uc.agg(F.sum("c").cast("bigint").alias("n_tok"))
    tp1 = pc.agg(F.sum("c_pair").cast("bigint").alias("t_pair"))
    ua = uc.select(F.col("tok").alias("tok_lo"), F.col("c").alias("c_lo"))
    ub = uc.select(F.col("tok").alias("tok_hi"), F.col("c").alias("c_hi"))
    ppmi = F.greatest(
        F.lit(0.0),
        F.log(F.col("c_pair") * 1.0 / F.col("t_pair"))
        - F.log(F.col("c_lo") * 1.0 / F.col("n_tok"))
        - F.log(F.col("c_hi") * 1.0 / F.col("n_tok")),
    )
    return (
        pc.filter(F.col("c_pair") >= SKIP_MIN_PAIR)
        .join(ua, "tok_lo")
        .join(ub, "tok_hi")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(tp1))
        .select(
            "tok_lo",
            "tok_hi",
            F.col("c_pair").cast("bigint").alias("c_pair"),
            F.col("c_lo").cast("bigint").alias("c_lo"),
            F.col("c_hi").cast("bigint").alias("c_hi"),
            round_compat(ppmi, 6).alias("ppmi"),
        )
    )
