"""Join acceleration structures ([EXT]): Bloom-filter semi-join
pruning and the bucketized interval-overlap join.

Both operators exist for the regime where the textbook plan stops
working at 100 TB:

- ``bloom_semi_join_prune``: a semi join whose build side is too big
  for a broadcast HASH relation can still broadcast a Bloom BITMAP
  (2^30 bits = 128 MB covers ~10^8 keys at ~3% FPR, vs tens of GB for
  the exact set). The bitmap prunes the probe scan map-side; the
  residual exact semi join then shuffles only the survivors. Spark's
  own runtime row-group filtering does a limited version of this
  inside AQE; this operator is the explicit, tunable form.
- ``interval_overlap_join``: an interval predicate
  (``a.start <= b.end AND b.start <= a.end``) is a non-equi join that
  Catalyst can only plan as a (broadcast) nested loop. Exploding both
  sides onto a fixed time-bucket grid turns it into an EQUI join on
  the bucket key — shuffle-partitionable, AQE-skew-splittable — with
  an exact overlap filter and a pair-dedup on top. This is the
  standard range-join rewrite (Databricks' range-join hints and
  KDB/kdb+ window joins do the same internally).

The Bloom result is EXACT (false positives are removed by the residual
join — the bitmap only prunes), so both operators hash-match plain-SQL
DuckDB oracles that know nothing about the acceleration structures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata

# --- Bloom filter geometry ------------------------------------------------
# The bitmap is sized to the BUILD-SIDE COUNT at plan time (round 12):
# the old fixed 2^16 bits were tuned for sf0.1's ~15k keys (~13% FPR)
# and SATURATED one scale up — at sf1's ~150k keys the FPR is ~99.95%,
# a filter that prunes nothing while the probe still pays 4 hashes per
# row (the fixed-geometry bug class the adaptive LSH fixed, one
# operator over).  The law: bits = next power of two >= BLOOM_BITS_PER
# _KEY * n_keys (m/n = 10, k = 4 -> ~1.2% FPR), floored at 2^16 and
# capped at BLOOM_BITS_CAP.  The bitmap travels as a BROADCAST
# RELATION of (word index, word bits) rows — never a plan literal:
# the round-12 pair caught the literal form at 40 s/query at sf1,
# all of it Catalyst/py4j handling of a 2^21-bit (64k-element) array
# constant; the same geometry as a 4-way broadcast word join runs in
# ~0.2 s warm.  The cap is therefore a broadcast-size bound, not a
# plan-size bound: 2^26 bits = 2M 32-bit words ~ 16 MB hash relation
# (covers ~6.7M build keys at ~1.2% FPR).  Past it the FPR degrades
# gracefully (logged); the production dial at 10^9 keys is the
# engine's native runtime filter (2^30-bit broadcast var), same
# structure, bigger transport.  Must be a power of two so pmod
# reduces cleanly.
BLOOM_MIN_BITS = 1 << 16
BLOOM_BITS_CAP = 1 << 26
BLOOM_BITS_PER_KEY = 10
BLOOM_HASHES = 4
HIGH_VALUE_ORDER = 450_000.0  # build-side predicate: ~10% of orders
# Build the bloom ONLY past this build-side count (round-12 width
# dispatch): below it the EXACT key set is a ~8 MB broadcast —
# comfortably under the session's 64 MB dim threshold — and a plain
# broadcast semi join beats bitmap-build + 4 probe joins by
# construction (measured at sf1: plain ~3 s vs explicit bloom ~9 s;
# 150k keys is simply not the regime the structure exists for).
# Past the cap (sf10 crosses it naturally: ~1.5M high-value orders)
# the exact set is no longer a sane broadcast and the bitmap is.
# Same measured-cap pattern as the rank dispatchers; decisions land
# in DISPATCH_LOG either way.
BLOOM_BUILD_MIN_KEYS = 1_000_000


def _bloom_bits_for(n_keys: int) -> int:
    bits = BLOOM_MIN_BITS
    while bits < BLOOM_BITS_PER_KEY * n_keys and bits < BLOOM_BITS_CAP:
        bits <<= 1
    return bits


def _bit_mask(pos):
    """``1 << (pos % 32)`` as a column: ``shiftleft`` takes only a
    literal shift amount, but 2**b for b <= 31 is an exactly
    representable double, so ``pow(2, b)`` cast to long is the same
    bit — and 32-bit words keep the sign bit out of play."""
    return F.pow(F.lit(2.0), (pos % 32).cast("int")).cast("long")


def bloom_bitmap_words(keys: DataFrame, key_col: str, bits: int) -> list[int]:
    """Aggregate the build side into a Bloom bitmap of ``bits / 32``
    32-bit words (``bits`` from ``_bloom_bits_for`` at plan time).

    One explode (BLOOM_HASHES rows per key) + one groupBy on the word
    index (at most bits/32 groups) + a bounded Arrow collect of the
    words — driver traffic is capped by the bitmap size regardless of
    build cardinality, which is exactly why this scales where
    collecting the key set would not."""
    import numpy as np

    positions = keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(
                        F.xxhash64(F.col(key_col), F.lit(i)), F.lit(bits)
                    ).alias(f"p{i}")
                    for i in range(BLOOM_HASHES)
                ]
            )
        ).alias("pos")
    )
    words = (
        positions.select(
            (F.col("pos") / 32).cast("int").alias("word"),
            _bit_mask(F.col("pos")).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .toArrow()  # Arrow batch, not 2M py4j Row objects
    )
    out = np.zeros(bits // 32, dtype=np.int64)
    out[words["word"].to_numpy()] = words["bits"].to_numpy()
    return out.tolist()


def bloom_words_relation(spark: SparkSession, words: list[int]) -> DataFrame:
    """The bitmap as a (w_idx, w_bits) relation of its NON-ZERO words,
    shipped executor-side via one Arrow batch. This is the transport
    the probe joins broadcast — the form that scales: a 2^26-bit map
    is a 16 MB hash relation here vs an unoptimizable 2M-element plan
    constant as a literal (the round-12 pair measured the literal form
    at 40 s/query at sf1, ~all of it plan handling)."""
    import numpy as np

    from aws_etl_global_footprint_network_spark.functions.kernels import local_frame

    w = np.asarray(words, dtype=np.int64)
    nz = np.nonzero(w)[0]
    return local_frame(
        spark, {"w_idx": nz, "w_bits": w[nz]}, "w_idx int, w_bits bigint"
    )


def bloom_prune(
    probe: DataFrame, key, words_df: DataFrame, bits: int
) -> DataFrame:
    """Filter ``probe`` to rows whose ``key`` passes the Bloom test —
    BLOOM_HASHES map-side broadcast LEFT joins against the word
    relation (one per hash position), then one conjunctive filter.
    A missing word (left-join NULL) means no bits set there, so the
    row fails the test: false negatives remain impossible. All joins
    are broadcast by construction (the relation is capped at ~16 MB),
    so the prune is a single map-side stage — no shuffle touches the
    probe until the residual join sees only survivors."""
    cond = F.lit(True)
    out = probe
    for i in range(BLOOM_HASHES):
        pos = F.pmod(F.xxhash64(key, F.lit(i)), F.lit(bits))
        w = words_df.select(
            F.col("w_idx").alias(f"wi{i}"), F.col("w_bits").alias(f"wb{i}")
        )
        out = out.join(
            F.broadcast(w), (pos / 32).cast("int") == F.col(f"wi{i}"), "left"
        )
        cond = cond & (
            F.col(f"wb{i}").bitwiseAND(_bit_mask(pos)) != 0
        )  # NULL word -> NULL -> filtered, as required
    return out.filter(cond).select(probe.columns)


@register(
    "bloom_semi_join_prune",
    f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) / 10000.0
             AS revenue
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_totalprice > {HIGH_VALUE_ORDER})
    GROUP BY l_returnflag
    """,
    "semi join accelerated by a broadcast Bloom bitmap: the probe scan"
    " is pruned map-side by a count-sized (10 bits/key, 4-hash) filter"
    " built from the high-value order keys, then an exact residual"
    " semi join removes"
    " the false positives — the result is EXACTLY the plain semi join"
    " (the oracle), the bitmap only changes where the work happens;"
    " revenue in exact integer cents (engine-order-independent)",
    tags=("join", "bloom", "scale", "headline"),
)
def bloom_semi_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pattern pays off when the key SET outgrows broadcast but the
    BITMAP does not (10^8-10^9 build keys). The residual semi join
    carries NO broadcast hint for exactly that reason: hard-hinting the
    key set would OOM in the regime this operator exists for. AQE picks
    broadcast on its own when the build side happens to be small — the
    bloom-pruned probe side is what shrinks either way. The ONLY
    broadcast hints in the plan sit on the word relation inside
    ``bloom_prune`` — the structure that fits by construction
    (tests/test_plans.py pins exactly that split).

    Dispatch (round 12): building a bloom for a BROADCASTABLE key set
    is pure overhead — below BLOOM_BUILD_MIN_KEYS the operator runs
    the plain semi join (AQE broadcasts the keys; identical result)
    and only past it builds the bitmap, the same measured-cap width
    dispatch as the rank recipes. sf10 crosses the cap naturally
    (~1.5M high-value orders); ``forced_bloom_semi_join`` pins the
    bloom branch at every scale for external hash evidence.

    Bitmap geometry is count-adaptive: the fixed 2^16 bits saturated
    at sf1 (~150k keys -> FPR ~0.9995, a no-op filter whose probe
    hashes were pure overhead).  The build-side count (one cheap
    aggregate over the already-scanned orders filter, logged to
    DISPATCH_LOG) picks bits = next pow2 >= 10/key within
    [2^16, 2^26].  The bitmap probes as a broadcast word relation,
    never a plan literal — the literal form cost 40 s/query at sf1 in
    the round-12 interleaved pair (Catalyst/py4j on a 64k-element
    constant), vs ~0.2 s warm for the same geometry as joins."""
    return _bloom_semi_revenue(spark, sf_dir, build_min_keys=BLOOM_BUILD_MIN_KEYS)


def _bloom_semi_revenue(
    spark: SparkSession, sf_dir: str, build_min_keys: int
) -> DataFrame:
    orders = read_testdata(spark, sf_dir, "orders")
    li = read_testdata(spark, sf_dir, "lineitem")
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        _log_dispatch,
    )

    keys = orders.filter(F.col("o_totalprice") > HIGH_VALUE_ORDER).select(
        "o_orderkey"
    )
    n_keys = keys.count()
    if n_keys <= build_min_keys:
        # broadcastable key set: the bloom cannot win here, skip it
        _log_dispatch("bloom_bits", n_keys, build_min_keys, "plain-semi")
        pruned = li
    else:
        bits = _bloom_bits_for(n_keys)
        _log_dispatch("bloom_bits", n_keys, build_min_keys, f"bits={bits}")
        words = bloom_words_relation(
            spark, bloom_bitmap_words(keys, "o_orderkey", bits)
        )
        pruned = bloom_prune(li, F.col("l_orderkey"), words, bits)
    exact = pruned.join(
        keys, pruned.l_orderkey == keys.o_orderkey, "left_semi"
    )
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long") * (
        100 - F.round(F.col("l_discount") * 100, 0).cast("long")
    )
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum(cents) / 10000.0).alias("revenue"),
    )


@register(
    "forced_bloom_semi_join",
    f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) / 10000.0
             AS revenue
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_totalprice > {HIGH_VALUE_ORDER})
    GROUP BY l_returnflag
    """,
    "the Bloom semi join with the build-bitmap branch pinned"
    " unconditionally (dispatch cap 0): bitmap aggregate + broadcast"
    " word-relation probe joins + exact residual semi join at every"
    " scale — external hash evidence for the machinery a 10^8-key"
    " build side would execute, independent of the dispatch cap",
    tags=("join", "bloom", "scale", "forced-dispatch"),
)
def forced_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evidence twin of ``bloom_semi_join_prune`` (same oracle): the
    dispatcher never takes the bloom branch below BLOOM_BUILD_MIN_KEYS,
    so without this pin the driver's sf0.01 hash window would only
    ever certify the plain-semi branch. Cap 0 forces bitmap build +
    word-relation probe pruning + residual join — the over-cap plan —
    at any sf."""
    return _bloom_semi_revenue(spark, sf_dir, build_min_keys=0)


# --- Interval overlap -----------------------------------------------------
SESSION_GAP_MIN = 30
INCIDENT_N = 20
INCIDENT_PAD_MIN = 60
# grid step is 1 hour (hard-coded in both twins' date_trunc/sequence);
# the right setting is >= the typical interval span


def _sessions_sql() -> str:
    return f"""
    marks AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL {SESSION_GAP_MIN} MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks),
    sessions AS (
      SELECT user_id, sid, MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM sess GROUP BY user_id, sid)"""


@register(
    "interval_overlap_join",
    f"""
    WITH {_sessions_sql()},
    incidents AS (
      SELECT event_id AS incident_id, ts - INTERVAL {INCIDENT_PAD_MIN} MINUTE AS i_start,
             ts + INTERVAL {INCIDENT_PAD_MIN} MINUTE AS i_end
      FROM (SELECT event_id, ts,
                   ROW_NUMBER() OVER (ORDER BY value DESC, event_id) AS rn
            FROM events) WHERE rn <= {INCIDENT_N})
    SELECT s.user_id, s.s_start AS session_start,
           i.incident_id,
           epoch_us(LEAST(s.s_end, i.i_end))
             - epoch_us(GREATEST(s.s_start, i.i_start)) AS overlap_us
    FROM sessions s JOIN incidents i
      ON s.s_start <= i.i_end AND i.i_start <= s.s_end
    """,
    f"interval-overlap join rewritten as an equi join: user sessions"
    f" ({SESSION_GAP_MIN}-min gap) x the ±{INCIDENT_PAD_MIN}-min windows"
    f" around the top-{INCIDENT_N} events by value — both interval sets"
    " exploded onto an hourly bucket grid, equi-joined on the bucket,"
    " exact-overlap filtered and pair-deduped (oracle: the plain"
    " non-equi overlap join)",
    tags=("join", "temporal", "scale", "headline"),
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The non-equi overlap predicate would plan as a nested loop; the
    bucket explode turns it into a shuffle-partitionable equi join.
    Buckets per interval = ceil(span / bucket) + 1, so the blowup is
    bounded by interval length — pick the bucket ~ the typical span.
    The pair-dedup is exact: a pair sharing k buckets collapses via
    groupBy on the pair key (overlap_us is functionally dependent).
    tests/test_round5_ops.py asserts set equality against the direct
    crossJoin + overlap-predicate join over the same intervals."""
    sessions, incidents = session_incident_intervals(spark, sf_dir)

    def buckets(start, end):
        return F.sequence(
            F.date_trunc("hour", start),
            F.date_trunc("hour", end),
            F.expr("INTERVAL 1 HOURS"),
        )

    s_b = sessions.select(
        "user_id",
        "s_start",
        "s_end",
        F.explode(buckets(F.col("s_start"), F.col("s_end"))).alias("bucket"),
    )
    i_b = incidents.select(
        "incident_id",
        "i_start",
        "i_end",
        F.explode(buckets(F.col("i_start"), F.col("i_end"))).alias("bucket"),
    )
    joined = s_b.join(i_b, "bucket").filter(
        (F.col("s_start") <= F.col("i_end")) & (F.col("i_start") <= F.col("s_end"))
    )
    return joined.groupBy(
        "user_id",
        F.col("s_start").alias("session_start"),
        "incident_id",
    ).agg(
        F.first(
            F.unix_micros(F.least("s_end", "i_end"))
            - F.unix_micros(F.greatest("s_start", "i_start"))
        ).alias("overlap_us")
    )


def session_incident_intervals(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The two interval relations the overlap join operates on:
    per-user activity sessions (gap > SESSION_GAP_MIN starts a new one)
    and ±INCIDENT_PAD_MIN windows around the top-INCIDENT_N events by
    value. Exposed so the equivalence test can run the direct non-equi
    join over the exact same inputs as the bucket-grid rewrite."""
    ev = read_testdata(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap = F.lag("ts").over(w_ord)
    marks = ev.select(
        "user_id",
        "ts",
        F.when(
            gap.isNull()
            | (F.unix_micros("ts") - F.unix_micros(gap) > SESSION_GAP_MIN * 60_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    sessions = (
        marks.withColumn("sid", F.sum("new_s").over(w_run))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    # top-N via orderBy+limit -> TakeOrderedAndProject (distributed
    # partial top-k per partition, merged at the driver) — NOT a
    # global row_number window, which would single-task the corpus.
    incidents = (
        ev.select("event_id", "ts", "value")
        .orderBy(F.col("value").desc(), "event_id")
        .limit(INCIDENT_N)
        .select(
            F.col("event_id").alias("incident_id"),
            (F.col("ts") - F.expr(f"INTERVAL {INCIDENT_PAD_MIN} MINUTES")).alias(
                "i_start"
            ),
            (F.col("ts") + F.expr(f"INTERVAL {INCIDENT_PAD_MIN} MINUTES")).alias(
                "i_end"
            ),
        )
    )
    return sessions, incidents


# --- Fuzzy string join (SymSpell deletion blocking) -----------------------
FUZZY_MAX_DIST = 1


@register(
    "fuzzy_name_pairs",
    f"""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM names a JOIN names b
      ON a.p_name < b.p_name
     AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
    """,
    f"fuzzy string self-join: distinct part-name pairs within edit"
    f" distance {FUZZY_MAX_DIST}, found via SymSpell deletion-1"
    " neighborhood blocking (equi join on deletion variants) + exact"
    " levenshtein verify — never the quadratic compare (oracle: the"
    " direct pairwise join over the bounded distinct-name set)",
    tags=("join", "text", "scale", "headline"),
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell blocking: two strings within edit distance 1 share at
    least one deletion-<=1 variant (delete the mismatched char from
    each side), so an equi join on exploded variants finds every
    candidate without comparing all pairs. Work scales with
    sum(len(name)) not distinct_names^2; the exact levenshtein runs
    only on candidates. The oracle is the direct pairwise join —
    sound as ground truth because the distinct-name set is bounded
    (p_name vocabulary), exactly like the ANN exact baselines."""
    names = read_testdata(spark, sf_dir, "part").select("p_name").distinct()
    # deletion-<=1 neighborhood: index 0 keeps the string itself,
    # index i deletes character i
    variants = names.select(
        "p_name",
        F.explode(
            F.expr(
                "transform(sequence(0, length(p_name)),"
                " i -> CASE WHEN i = 0 THEN p_name"
                " ELSE concat(substring(p_name, 1, i - 1),"
                "             substring(p_name, i + 1)) END)"
            )
        ).alias("variant"),
    )
    a = variants.select(F.col("p_name").alias("name_a"), "variant")
    b = variants.select(F.col("p_name").alias("name_b"), "variant")
    candidates = (
        a.join(b, "variant")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    return candidates.filter(
        F.levenshtein("name_a", "name_b") <= FUZZY_MAX_DIST
    ).select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").cast("int").alias("dist"),
    )


# --- Bucketed co-located join --------------------------------------------
# One bucket per core: the bucket count caps the join's parallelism
# (bucket-local merge = one task per bucket), so undersizing it leaves
# cores idle. Production sizes this to cluster width x growth headroom.
BUCKETS = 32

LAYOUT_WRITE_SEC: dict[str, float] = {}  # seconds the LAST run of a
# layout-demonstrating query spent writing its physical layout (the
# one-time load-side cost a warehouse amortises over every later
# join). bench.py drains this per query so the sidecar prices the
# write separately from the probe join — same honesty model as the
# shared-build prime (round-10 verdict item 4).


@register(
    "bucketed_join_colocated",
    """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) / 10000.0
             AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    "co-located bucketed join: orders and lineitem written bucketBy(8,"
    " orderkey) + sortBy, then joined with broadcast disabled — the"
    " join runs as a bucket-local sort-merge with NO Exchange on"
    " either side (this operator's plan is asserted Exchange-free by"
    " tests/test_plans.py::test_bucketed_join_colocated_no_exchange),"
    " the layout that amortises the repeated fact-fact shuffle at"
    " warehouse scale; revenue in exact integer cents",
    tags=("join", "layout", "scale"),
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physically exercises the bucketing layout: both fact tables are
    (re)written bucketed on the join key, and the join is forced away
    from broadcast so the bucket co-location is what eliminates the
    shuffle. The write cost is the point at scale — you pay the
    bucket shuffle ONCE at load, then every subsequent orderkey join
    is local. The broadcast-threshold override is scoped and restored
    (single-threaded session assumption, same as streaming's
    _stream_partitions).

    Write-path shape: each side is projected to the join family's
    columns (a covering projection — what a warehouse materialises for
    a hot join path) and repartitioned on the bucket key BEFORE
    bucketBy, so every task writes exactly one bucket file and the
    per-bucket sort runs fully parallel; without it each input task
    writes a sliver of all 32 buckets (32x the files, serial sorts).
    Measured 11.4 s -> 3.0 s at sf1."""
    import os
    import shutil
    import time
    from urllib.parse import urlparse

    o = read_testdata(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = read_testdata(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    # DROP TABLE clears the catalog entry, but a PREVIOUS process's
    # warehouse directory survives its (per-process, in-memory derby)
    # metastore — saveAsTable then fails LOCATION_ALREADY_EXISTS.
    # Clear the physical location too.
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    t_write = time.perf_counter()
    for tbl in ("orders_colo", "lineitem_colo"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        loc = os.path.join(warehouse, tbl)
        if warehouse and os.path.isdir(loc):
            shutil.rmtree(loc)
    (o.repartition(BUCKETS, "o_orderkey")
        .write.bucketBy(BUCKETS, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_colo"))
    (li.repartition(BUCKETS, "l_orderkey")
        .write.bucketBy(BUCKETS, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("lineitem_colo"))
    LAYOUT_WRITE_SEC["bucketed_join_colocated"] = round(
        time.perf_counter() - t_write, 3
    )
    ob, lb = spark.table("orders_colo"), spark.table("lineitem_colo")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_adaptive = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long") * (
            100 - F.round(F.col("l_discount") * 100, 0).cast("long")
        )
        out = (
            lb.join(ob, lb.l_orderkey == ob.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                (F.sum(cents) / 10000.0).alias("revenue"),
            )
        )
        # materialise under the scoped conf so the executed plan is the
        # bucket-local merge (the returned DataFrame re-plans lazily,
        # but the bucketed scan keeps the no-Exchange property)
        out.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_adaptive is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", old_adaptive
            )
    return out
