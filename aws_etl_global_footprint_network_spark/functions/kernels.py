"""Driver-close primitives: the bounded probe in front of every
operator that finishes a small computation on the driver instead of
in Spark jobs.

The graph loops (k-core peel, BFS, label propagation, connected
components, PageRank) each cost a few jobs per round in Spark, and
that fixed job machinery dominates their time on graphs that fit in
driver memory. ``bounded_collect`` pulls such a graph to the driver
as one Arrow table when it is provably under a cap, and tells the
caller to run the distributed loop otherwise. ``local_frame`` hands
such a driver result back to Spark as a local scan that collects with
no job. ``partial_pass`` is the one Arrow pass of the package: a
per-partition Python fold over pandas batches (``mapInPandas``) whose
bounded partials either stay in the plan or come back to the driver
with one ``toArrow()``.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable, Iterator, Mapping

import numpy as np
import pandas as pd
import pyarrow as pa
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string

from aws_etl_global_footprint_network_spark.functions.ranking import _log_dispatch

# Edge count up to which the graph loops run on the driver. Sized to
# cover the sf0.1 k-core graph (1,196,000 edges), the largest graph
# below sf1: 2M (u, v) longs are a 32 MB Arrow pull, and numpy peels,
# expands or relabels that many edges per round in tens of
# milliseconds, where a Spark round costs 1-2 s of job latency at any
# size. Past the cap (sf1: 11,960,000 k-core edges) the distributed
# loops run.
LOCAL_EDGE_CAP = 2_000_000


def _cached_rows(df: DataFrame) -> int | None:
    """Exact row count of a persisted frame whose cache is fully
    built, read from the statistics the cache keeps as it builds (no
    job); None for any other frame. A partition built twice would
    count twice, which can only send a frame to the distributed
    branch early."""
    if not df.is_cached:
        return None
    try:
        builder = df._jdf.queryExecution().withCachedData().cacheBuilder()
        if builder.isCachedColumnBuffersLoaded():
            return int(builder.rowCountStats().value())
    except Py4JError:  # the frame is a projection over a cached one
        pass
    return None


def bounded_collect(df: DataFrame, cap: int, kind: str) -> pa.Table | None:
    """``df`` as one Arrow table if it holds at most ``cap`` rows,
    else None; logs ``(kind, n_rows, cap, branch)`` to DISPATCH_LOG
    with branch ``collected`` or ``pregel``.

    A persisted frame is sized from its cache statistics (building
    the cache first with one ``count()`` if needed, the work any
    branch reads from), so an over-cap frame moves no rows and an
    under-cap one is one plain ``toArrow()``. Any other frame is
    probed with ``limit(cap + 1).toArrow()``: one bounded pass that
    is also the collect, so its logged ``n_rows`` stops at cap + 1.
    A negative cap always answers None."""
    n = _cached_rows(df)
    if n is None and df.is_cached:
        df.count()
        n = _cached_rows(df)
    if n is None:
        table = df.limit(max(cap + 1, 0)).toArrow()
        n = table.num_rows
    else:
        table = df.toArrow() if n <= cap else None
    _log_dispatch(kind, n, cap, "collected" if n <= cap else "pregel")
    return table if n <= cap else None


def edge_index(table: pa.Table) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(nodes, ui, vi)`` of a collected ``(u, v)`` edge table: the
    sorted distinct endpoints, and each edge's endpoint positions in
    them. The arrays ``np.unique(..., return_inverse=True)`` gives,
    from a hash factorize that sorts only the distinct values: a sixth
    of the cost on a 2.4M-endpoint graph."""
    u = table["u"].to_numpy(zero_copy_only=False)
    v = table["v"].to_numpy(zero_copy_only=False)
    idx, nodes = pd.factorize(np.concatenate([u, v]), sort=True)
    return nodes, idx[: len(u)], idx[len(u):]


def local_frame(
    spark: SparkSession, data: Mapping | Iterable[tuple], schema: str
) -> DataFrame:
    """A driver-side result as a DataFrame over one Arrow table: a
    ``LocalTableScan`` that collects without a Spark job.

    ``data`` is either columns by name (sequences or numpy arrays) or
    an iterable of row tuples in ``schema`` order; ``schema`` is a DDL
    string whose types the result keeps (an int64 column under
    ``digit int`` comes back as int). ``createDataFrame`` sends a row
    list, and an empty pandas frame, through a pickled RDD that a
    Python worker decodes in a job at collect time (0.2-0.25 s warm
    on a 4-core host); an Arrow table it plans as a local relation,
    empty or not (under 0.02 s)."""
    struct = _parse_datatype_string(schema)
    if isinstance(data, Mapping):
        cols = [data[name] for name in struct.names]
    else:
        rows = list(data)
        cols = list(zip(*rows)) if rows else [()] * len(struct.names)
    table = pa.Table.from_arrays([pa.array(c) for c in cols], names=struct.names)
    return spark.createDataFrame(table, struct)


def partial_pass(
    df: DataFrame,
    fold: Callable[[Iterator[pd.DataFrame]], Iterable],
    schema: str | StructType,
) -> DataFrame:
    """``df`` mapped partition by partition through ``fold``, a
    ``mapInPandas`` stage with output ``schema``.

    ``fold`` gets one partition's non-empty pandas batches and yields
    its output batches, each either columns by name (a mapping or a
    pandas frame) or a list of row tuples in ``schema`` order (Spark
    assigns unlabelled columns by position). Zero-row outputs are
    dropped. The stage carries ``fold``'s name, which is what the
    plan's ``MapInPandas`` node shows."""

    @functools.wraps(fold)
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for out in fold(pdf for pdf in batches if len(pdf)):
            if not isinstance(out, pd.DataFrame):
                out = pd.DataFrame(out)
            if len(out):
                yield out

    return df.mapInPandas(run, schema)


def batch_map(
    df: DataFrame, fn: Callable[[pd.DataFrame], object], schema: str | StructType
) -> DataFrame:
    """``partial_pass`` with no state across batches: ``fn`` maps one
    non-empty pandas batch to one output batch."""

    @functools.wraps(fn)
    def fold(batches: Iterator[pd.DataFrame]) -> Iterator:
        return map(fn, batches)

    return partial_pass(df, fold, schema)
