"""SparkSession factory.

Local-mode testing defaults; every knob chosen for the 100 TB posture is
commented with why. The reference has no engine of its own (it connects
to in-process DuckDB, reference: local_test/scripts/local_data_ingestion.py:68-78);
this is our equivalent of "connect".
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "aws_etl_global_footprint_network_spark"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults target local[N] testing; on a real cluster the same
    settings are safe: AQE re-plans shuffle partition counts at
    runtime, so ``shuffle_partitions`` is only the pre-AQE upper
    bound for the first stage.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions, skew-join
        # splitting, and dynamic join-strategy switching. Essential at
        # 100 TB (skewed keys, unknown selectivities); harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Coalesce small post-shuffle partitions to the advisory size
        # instead of preserving pre-shuffle parallelism (the Spark
        # tuning guide's recommended production setting): reduce-side
        # task count tracks data volume, not the static partition
        # number — fewer near-empty tasks at small SF, same plans at
        # 100 TB where partitions are full anyway.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"
        )
        # parallelismFirst=false coalesces to the ADVISORY size, and
        # Spark's 64 MB default turns a ~200 MB mid-size shuffle into
        # ~3 reduce tasks — measured 20 s vs 3 s on the sf1 co-purchase
        # pair count (round 8): a 6x throttle on exactly the shuffles
        # that carry real data. 8 MB keeps sub-8 MB (toy-query)
        # shuffles coalescing to one task — the round-7 latency win —
        # while mid-size shuffles keep ~cores-many tasks. On a real
        # cluster, size this to total-cores x a few MB; it is a
        # PER-REDUCER target, not a cap on total parallelism.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # Recursive CTEs guard against runaway recursion with BOTH a
        # level limit and a row limit; the engine's recursions are all
        # depth-capped in the query text (the real guard), so the row
        # limit only needs to clear legitimate corpus-sized frontiers
        # (the 1M default trips at sf1's 1.5M-order chain walk).
        .config("spark.sql.cteRecursionRowLimit", str(500_000_000))
        # Pre-AQE shuffle parallelism: ~cores locally. On a cluster this
        # would be ~2-3x total cores; AQE coalesces the excess.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Dimension tables (region/nation/calendar) must broadcast, never
        # shuffle the fact side. 64 MB covers every dim we have.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Local mode runs driver and executors in one JVM; the 1g
        # default heap cannot hold broadcast builds once the corpus
        # grows past the driver-test scale (first hit at the sf1
        # bench). Only effective at JVM launch — reused sessions keep
        # their original heap.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        # Timestamps: parquet test data is UTC-naive; DuckDB (the
        # correctness oracle) is UTC-naive. Pin the session so oracle
        # comparison is bit-stable.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for any pandas exchange (Pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Quiet the UI for headless runs.
        .config("spark.ui.enabled", "false")
        # Parquet TIMESTAMP(NANOS) (events.ts) is not a native Spark
        # type; read as long and convert to micros at the reader layer
        # (sources.readers.read_testdata) — same ns->us truncation
        # DuckDB applies.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # PySpark 4 wraps every DataFrame and Column call to record its
        # Python call site for error messages: an active-session lookup,
        # a conf read and a JVM origin set and clear per call, thousands
        # of py4j round trips per build (a warm mann_whitney_u build:
        # 0.18 s with it, 0.09 s without). An AnalysisException then
        # lacks its Python call-site section; pass this key as "true" in
        # ``extra_conf`` to get it back. PySpark reads it once per
        # process, at the first wrapped call.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
