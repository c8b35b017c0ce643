"""Distributed exact ranking primitives.

``NTILE(n) OVER (ORDER BY ...)`` with no PARTITION BY moves the whole
relation through a single task (Spark logs "No Partition Defined for
Window operation"), which is a hard bottleneck once the relation is
billions of rows.  :func:`distributed_ntile` computes the *identical*
bucket assignment scale-safely with the classic distributed-rank
recipe:

1. ``repartitionByRange`` on the full ordering key — every partition
   holds a contiguous slice of the total order, partition ids ascend
   with it. The range bounds come from RangePartitioner's sample and
   are not reproducible across sessions: the partition sizes, and so
   the literal offsets of step 3, can differ between two runs of the
   same plan. The ranks stay exact, because offsets and partitions
   come from the same run. Plan diffs across sessions therefore
   always flag ``forced_distributed_rank_suite``, whose plan carries
   those offsets; it is the known exception when whole-registry
   captures are compared (``plans/r16/README.md``).
2. ``row_number`` windowed *per range partition* (partitionBy the
   partition id — parallel, never a global sort).
3. A tiny per-partition row-count aggregate (≤ shuffle-partitions
   rows) is collected and turned into literal cumulative offsets;
   ``global row number = offset[pid] + local row number``.
4. The NTILE bucket is pure arithmetic on (global rn, total rows),
   using the SQL-standard split: the first ``total % n`` buckets get
   ``total // n + 1`` rows, the rest ``total // n`` — bit-identical
   to both Spark's and DuckDB's ``NTILE``.

The ordering must be TOTAL (callers append a unique tie-break column),
otherwise rows straddling a range boundary could land
nondeterministically — the same caveat the single-task form has.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions import width
from aws_etl_global_footprint_network_spark.functions.cache import CacheScope

_PID = "__ntile_pid"
_GLOBAL = "__rank_g"


def _ranged_with_offsets(
    df: DataFrame, order_cols: list[Column], scope: CacheScope
) -> tuple[DataFrame, dict[int, int], int]:
    """Steps 1+3 of the distributed-rank recipe: range-repartition on
    the total order and compute cumulative per-partition row offsets
    (a bounded collect — one row per shuffle partition).

    The range-partitioned frame is persisted in ``scope`` because the
    per-partition counts job and the caller's main job must see the
    same partition assignment (and would otherwise scan twice)."""
    ranged = scope.persist(
        df.repartitionByRange(*order_cols).withColumn(_PID, F.spark_partition_id())
    )
    counts = {
        r["pid"]: r["cnt"]
        for r in ranged.groupBy(F.col(_PID).alias("pid"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    total = sum(counts.values())
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    return ranged, offsets, total


def distributed_row_number(
    df: DataFrame,
    order_cols: list[Column],
    out_col: str,
    scope: CacheScope,
) -> DataFrame:
    """Append ``out_col`` = exact global ``ROW_NUMBER()`` over the
    total order ``order_cols`` without a single-partition window:
    range repartition + per-partition row_number + broadcast offsets.
    The ordering must be total (append a unique tie-break column)."""
    ranged, offsets, _ = _ranged_with_offsets(df, order_cols, scope)
    if not offsets:
        return ranged.withColumn(out_col, F.lit(None).cast("long")).drop(_PID)
    off_map = F.create_map(
        *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
    )
    local_rn = F.row_number().over(Window.partitionBy(_PID).orderBy(*order_cols))
    return ranged.withColumn(
        out_col,
        (F.element_at(off_map, F.col(_PID)) + local_rn).cast("long"),
    ).drop(_PID)


def distributed_ntile(
    df: DataFrame,
    order_cols: list[Column],
    n_buckets: int,
    out_col: str,
    scope: CacheScope,
) -> DataFrame:
    """Append ``out_col`` = exact NTILE(n_buckets) over the total order
    ``order_cols``, without a single-partition window."""
    ranged, offsets, total = _ranged_with_offsets(df, order_cols, scope)
    if not offsets:  # empty input: keep the schema, no rows to bucket
        return ranged.withColumn(out_col, F.lit(None).cast("int")).drop(_PID)
    off_map = F.create_map(
        *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
    )
    local_rn = F.row_number().over(Window.partitionBy(_PID).orderBy(*order_cols))
    rn = F.element_at(off_map, F.col(_PID)) + local_rn
    base, rem = divmod(total, n_buckets)
    boundary = rem * (base + 1)
    # First `rem` buckets take base+1 rows each; the rest take base.
    # When total < n_buckets, boundary == total and only the first
    # branch fires (row i -> bucket i, the standard NTILE edge case);
    # max(base, 1) keeps the unused branch free of division by zero.
    bucket = F.when(
        rn <= F.lit(boundary), F.floor((rn - F.lit(1)) / F.lit(base + 1)) + 1
    ).otherwise(
        F.lit(rem) + F.floor((rn - F.lit(boundary) - 1) / F.lit(max(base, 1))) + 1
    )
    return ranged.withColumn(out_col, bucket.cast("int")).drop(_PID)


def adaptive_row_number(
    df: DataFrame,
    order_cols: list[Column],
    out_col: str,
    scope: CacheScope,
    n_rows: int | None = None,
) -> DataFrame:
    """Global ROW_NUMBER with cardinality-adaptive dispatch (see
    :func:`adaptive_ntile`): a plain unpartitioned window when the
    measured input is under ``ROWSCALE_WINDOW_CAP`` rows (the single
    sort task is bounded by the cap, and the window fuses into the
    caller's job instead of the range-repartition recipe's job
    chain); :func:`distributed_row_number` past it."""
    if n_rows is None:
        df = scope.persist(df)
        n_rows = df.count()
    if n_rows <= ROWSCALE_WINDOW_CAP:
        _log_dispatch("row_number", n_rows, ROWSCALE_WINDOW_CAP, "window")
        return df.withColumn(
            out_col,
            F.row_number().over(Window.orderBy(*order_cols)).cast("long"),
        )
    _log_dispatch("row_number", n_rows, ROWSCALE_WINDOW_CAP, "distributed")
    return distributed_row_number(df, order_cols, out_col, scope)


def adaptive_ntile(
    df: DataFrame,
    order_cols: list[Column],
    n_buckets: int,
    out_col: str,
    scope: CacheScope,
    n_rows: int | None = None,
) -> DataFrame:
    """NTILE with cardinality-adaptive dispatch — the adaptive_cumsum
    recipe applied to total-order bucketing. Under
    ``ROWSCALE_WINDOW_CAP`` measured rows, a plain global NTILE window
    is exact and its worst case (one task sorting the whole frame) is
    bounded by the cap itself — and CONSECUTIVE adaptive_ntile calls
    over the same frame fuse into one job (three quartile columns =
    one sort-per-ordering in a single stage, vs 3x the
    range-partition recipe's job chain). Past the cap the
    distributed recipe takes over: an unbounded per-entity table
    (customers grow with the corpus) must never single-task.
    ``n_rows``: pass a known count to skip the measuring action;
    callers persist+count once and reuse it for several columns."""
    if n_rows is None:
        df = scope.persist(df)
        n_rows = df.count()
    if n_rows <= ROWSCALE_WINDOW_CAP:
        _log_dispatch("ntile", n_rows, ROWSCALE_WINDOW_CAP, "window")
        w = Window.orderBy(*order_cols)
        return df.withColumn(
            out_col, F.ntile(n_buckets).over(w).cast("int")
        )
    _log_dispatch("ntile", n_rows, ROWSCALE_WINDOW_CAP, "distributed")
    return distributed_ntile(df, order_cols, n_buckets, out_col, scope)


# Dispatch/guard knobs (round-8 verdict items 3 + 4). Module-level so
# tests can monkeypatch them to force either path on toy data.
ADAPTIVE_WINDOW_CAP = 1_000_000  # value-table rows under which a
# per-group window over the AGGREGATED table is both exact and cheap
# (worst case: one window task holding every value row — bounded by
# this cap, not by the raw relation)
ROWSCALE_WINDOW_CAP = 200_000  # row-scale (per-entity / per-event)
# frames are wider and costlier to single-task-sort than the narrow
# integer value tables adaptive_cumsum windows, so the adaptive
# row_number/ntile dispatch flips to the distributed recipe 5x
# earlier (measured: a 1M-row single-task sort cost 8.8 s at sf1 —
# worse than the recipe's 3.8 s — while 150-200k-row frames window in
# well under a second)
HLL_DISPATCH_INFLATION = 1.10  # approx_count_distinct's default rsd
# is 0.05, so an HLL estimate feeding a dispatch cap can UNDER-state
# a value table sitting marginally above it and route it to the
# bounded single-task branch (advisor, round 9: the cap was soft).
# Inflating the estimate by two rsd before comparing makes the cap
# effectively hard (P(true > cap | inflated est <= cap) is the >2
# sigma tail) at the cost of dispatching to the distributed recipe
# ~10% early — the safe direction at every scale.


def hll_dispatch_estimate(est: int | None) -> int | None:
    """Inflate an ``approx_count_distinct`` estimate before passing
    it as a dispatch ``n_rows`` (see ``HLL_DISPATCH_INFLATION``).
    Exact counts must NOT go through this — pass them directly."""
    return None if est is None else int(est * HLL_DISPATCH_INFLATION)


DISPATCH_LOG: list[dict] = []  # every adaptive dispatch appends its
# decision here (kind, measured n_rows, cap, branch taken). Driver-side
# and tiny (a handful of entries per query); bench.py's per-query timer
# drains it per query to record which branch REAL data selected at each
# scale (scripts/bench_sf10.py writes it to BENCH_sf10.json).


def _log_dispatch(kind: str, n_rows: int, cap: int, branch: str) -> None:
    DISPATCH_LOG.append(
        {"kind": kind, "n_rows": int(n_rows), "cap": int(cap), "branch": branch}
    )


PARTIALS_COLLECT_CAP = 100_000  # per-(partition, group) partial rows
# above which the literal-map offsets would OOM the driver; past it
# the offsets stay distributed (window over the partials + join back)


def adaptive_cumsum(
    df: DataFrame,
    group_col: str,
    order_cols: list[Column],
    sums: dict[str, str],
    scope: CacheScope,
    n_rows: int,
    totals: dict[str, Column] | None = None,
) -> DataFrame:
    """Cardinality-adaptive exclusive running sums over a
    value-GROUPED table (round-8 verdict item 3).

    ``df`` must already be aggregated to one row per (group, order) —
    the callers' value tables.  Its size is therefore the value
    cardinality, not the row count of the raw relation.  When the
    table is domain-bounded (``n_rows <= ADAPTIVE_WINDOW_CAP`` —
    cents, quantities, scores), a plain window partitioned by
    ``group_col`` over it is exact and fuses into the caller's single
    downstream job (no persist, no extra action); the
    single-task-per-group worst case is bounded by the cap itself.
    Past the cap the value column is treated as genuinely continuous
    and the distributed-rank recipe takes over.  Both paths produce
    bit-identical sums.

    ``totals`` (out -> expression) appends per-group sums of
    expressions over the table, running sums included: a window sum
    over the same ``group_col`` partitioning under the cap, a grouped
    sum joined back null-safely past it (a NULL group keeps its
    totals).

    ``n_rows`` is the dispatch cardinality: an exact count, a footer
    bound or an inflated HLL estimate (see :func:`value_ranks`)."""
    cap = ADAPTIVE_WINDOW_CAP
    totals = totals or {}
    _log_dispatch(
        "cumsum", n_rows, cap, "window" if n_rows <= cap else "distributed"
    )
    if n_rows <= cap:
        w = Window.partitionBy(group_col).orderBy(*order_cols)
        frame = w.rowsBetween(Window.unboundedPreceding, -1)
        out = df
        for o, c in sums.items():
            out = out.withColumn(
                o, F.coalesce(F.sum(c).over(frame), F.lit(0)).cast("long")
            )
        for o, c in totals.items():
            out = out.withColumn(o, F.sum(c).over(Window.partitionBy(group_col)))
        return out
    out = distributed_cumsum(df, group_col, order_cols, sums, scope)
    if not totals:
        return out
    tot = out.groupBy(F.col(group_col).alias("__tot_g")).agg(
        *[F.sum(c).alias(o) for o, c in totals.items()]
    )
    return out.join(tot, out[group_col].eqNullSafe(tot["__tot_g"])).drop(
        "__tot_g"
    )


def value_ranks(
    df: DataFrame,
    key: str | None,
    value: str,
    counts: dict[str, Column],
    running: dict[str, str],
    scope: CacheScope,
    rows_of: tuple[str, str],
    totals: dict[str, Column] | None = None,
    broadcast: bool = False,
) -> DataFrame:
    """The value table of a rank statistic: one row per (``key``,
    ``value``) carrying the ``counts`` aggregates of ``df``, the
    exclusive running sums ``running`` (out -> count column) in
    ``value`` order within each key, and optional per-key ``totals``
    (out -> expression over those columns, see :func:`adaptive_cumsum`).
    With ``key`` None the ranks are global.

    Ties need no per-row rank: a value run with ``t`` rows and ``cb``
    rows before it holds the tied average rank (2*cb + t + 1)/2, an
    integer once doubled, so rank sums, medians and NTILE layouts all
    close over this table (value cardinality, not row cardinality).

    Sizing, in one place for every caller:

    - the value table has at most as many rows as the relation it was
      grouped from, so when the parquet footer of ``rows_of`` =
      (sf_dir, table) holds at most ``ADAPTIVE_WINDOW_CAP`` rows
      (``width.value_table_rows_bound``) the windowed branch is proved
      with no job;
    - otherwise one inflated HLL scan
      (``hll_dispatch_estimate(approx_count_distinct)``) estimates it.

    Partitioning: under the footer proof a keyed ``df`` is
    hash-partitioned on ``key`` before the grouping, so that one
    exchange serves the grouping (its keys contain ``key``), the
    window and any per-key close; the proof caps the rows a key's task
    can receive. Without the proof, and always for a global rank, the
    grouping keeps its own exchange with partial aggregation below it,
    so no handful of tasks ever receives unbounded raw rows.

    ``broadcast``: for callers that join the table back to a larger
    relation. A table the dispatch sized under the cap is bounded by
    it, so it is hinted for broadcast and the join runs map-side; past
    the cap the join keeps its shuffle."""
    cols = [key, value] if key else [value]
    n_rows = width.value_table_rows_bound(*rows_of, ADAPTIVE_WINDOW_CAP)
    if n_rows is None:
        n_rows = hll_dispatch_estimate(
            df.agg(F.approx_count_distinct(F.struct(*cols))).first()[0]
        )
    elif key:
        df = df.repartition(key)
    v = df.groupBy(*cols).agg(*[c.alias(o) for o, c in counts.items()])
    if not key:
        v = v.withColumn(_GLOBAL, F.lit(1))
    out = adaptive_cumsum(
        v, key or _GLOBAL, [F.col(value)], running, scope, n_rows, totals
    ).drop(_GLOBAL)
    if broadcast and n_rows <= ADAPTIVE_WINDOW_CAP:
        return F.broadcast(out)
    return out


def distributed_cumsum(
    df: DataFrame,
    group_col: str,
    order_cols: list[Column],
    sums: dict[str, str],
    scope: CacheScope,
    inclusive: bool = False,
    partials_collect_cap: int | None = None,
) -> DataFrame:
    """Append exact per-group running sums over a total order without
    a single-task window (round-7 verdict item 3).

    For each ``out_col -> in_col`` in ``sums``, appends ``out_col`` =
    ``SUM(in_col) OVER (PARTITION BY group_col ORDER BY order_cols
    ROWS UNBOUNDED PRECEDING [AND 1 PRECEDING])`` — but computed with
    the distributed-rank recipe instead of a window partitioned only
    by ``group_col`` (the rank-free stats operators run this over a
    VALUE-grouped table: sound while value cardinality is
    domain-bounded, a one-task-per-group bottleneck the moment the
    value column is genuinely continuous; this removes the implicit
    precondition):

    1. range-repartition on (group, order) — contiguous slices;
    2. per-(partition, group) partial sums, collected (bounded:
       shuffle partitions x groups rows);
    3. per-(partition, group) literal offsets = partial sums of the
       group in all earlier partitions;
    4. running sum = offset + a per-(partition, group) local window.

    (group, order_cols) must be a total order of ``df`` (the callers'
    value-grouped tables are unique on it by construction) and
    ``group_col`` must be map-key-able (string/int). Exclusive by
    default; ``inclusive=True`` includes the current row.

    Driver-safety guard (round-8 verdict item 4): the partials
    collect is bounded by shuffle-partitions x group cardinality —
    fine for the callers' bounded groups, silent-OOM territory for an
    unbounded group column.  The partial table is therefore counted
    BEFORE collecting; past ``PARTIALS_COLLECT_CAP`` the offsets are
    computed distributed (an exclusive window over the partials,
    ordered by partition id within each group — at most
    shuffle-partitions rows per group — joined back on
    (partition id, group)) and nothing ever reaches the driver.
    """
    parts = [F.col(group_col), *order_cols]
    ranged = scope.persist(
        df.repartitionByRange(*parts).withColumn(_PID, F.spark_partition_id())
    )
    partials_df = scope.persist(
        ranged.groupBy(F.col(_PID).alias("pid"), F.col(group_col).alias("g")).agg(
            *[F.sum(c).alias(o) for o, c in sums.items()]
        )
    )
    # ``partials_collect_cap`` overrides the module cap so a caller
    # can PIN the joined-offsets branch (the forced_distributed_*
    # queries run it at driver scale for external hash evidence);
    # None keeps the measured default.
    cap = (
        PARTIALS_COLLECT_CAP
        if partials_collect_cap is None
        else partials_collect_cap
    )
    n_partials = partials_df.count()
    if n_partials > cap:
        _log_dispatch("cumsum_offsets", n_partials, cap, "joined")
        return _cumsum_joined_offsets(
            ranged, partials_df, group_col, order_cols, sums, inclusive
        )
    _log_dispatch("cumsum_offsets", n_partials, cap, "collected")
    partials = partials_df.collect()
    # NULL group values need an explicit sentinel on BOTH sides of the
    # lookup: concat_ws SKIPS nulls (the key would silently collapse to
    # just the pid and the coalesce below would mask the miss as a zero
    # offset), so the Python key and the Spark key both encode NULL as
    # a reserved NUL-prefixed token no real group string can equal.
    _NULLG = "\x00<null>"

    def _gkey(g) -> str:
        return _NULLG if g is None else str(g)

    acc: dict[str, dict[str, int]] = {o: {} for o in sums}
    offsets: list = []
    for r in sorted(partials, key=lambda r: r["pid"]):
        for o in sums:
            key = f"{r['pid']}|{_gkey(r['g'])}"
            acc_g = acc[o]
            offsets.append((o, key, acc_g.get(_gkey(r["g"]), 0)))
            acc_g[_gkey(r["g"])] = acc_g.get(_gkey(r["g"]), 0) + (r[o] or 0)
    lw = Window.partitionBy(_PID, group_col).orderBy(*order_cols)
    frame = lw.rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    out = ranged
    lookup = F.concat_ws(
        "|",
        F.col(_PID).cast("string"),
        F.coalesce(F.col(group_col).cast("string"), F.lit(_NULLG)),
    )
    for o, c in sums.items():
        entries = [x for oo, k, v in offsets if oo == o for x in (F.lit(k), F.lit(v))]
        off = (
            F.element_at(F.create_map(*entries), lookup)
            if entries
            else F.lit(0)
        )
        out = out.withColumn(
            o,
            (
                F.coalesce(off, F.lit(0))
                + F.coalesce(F.sum(c).over(frame), F.lit(0))
            ).cast("long"),
        )
    return out.drop(_PID)


def _cumsum_joined_offsets(
    ranged: DataFrame,
    partials_df: DataFrame,
    group_col: str,
    order_cols: list[Column],
    sums: dict[str, str],
    inclusive: bool,
) -> DataFrame:
    """Offset resolution for :func:`distributed_cumsum` past the
    driver-collect cap: per-(partition, group) offsets = exclusive
    running sum of the partials over partition id WITHIN each group
    (bounded: at most shuffle-partitions rows per group — the window
    partitioning here is the HIGH-cardinality group column, which is
    exactly the case that sent us down this path), joined back to the
    ranged frame on (partition id, group) with null-safe group
    equality."""
    ow = (
        Window.partitionBy("g")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # reserved names: the caller's frame may itself contain columns
    # named pid/g (the test fixtures do)
    offs = partials_df.select(
        F.col("pid").alias("__off_pid"),
        F.col("g").alias("__off_g"),
        *[
            F.coalesce(F.sum(o).over(ow), F.lit(0)).alias(f"__off_{o}")
            for o in sums
        ],
    )
    joined = ranged.join(
        offs,
        (ranged[_PID] == offs["__off_pid"])
        & ranged[group_col].eqNullSafe(offs["__off_g"]),
        "left",
    )
    lw = Window.partitionBy(_PID, group_col).orderBy(*order_cols)
    frame = lw.rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    out = joined
    for o, c in sums.items():
        out = out.withColumn(
            o,
            (
                F.coalesce(F.col(f"__off_{o}"), F.lit(0))
                + F.coalesce(F.sum(c).over(frame), F.lit(0))
            ).cast("long"),
        )
    return out.drop(
        "__off_pid", "__off_g", *[f"__off_{o}" for o in sums]
    ).drop(_PID)
