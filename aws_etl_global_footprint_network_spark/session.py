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
# Holds pyspark_graft_worker.py, the Python workers' entry module.
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"


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
        # The compiled-class cache (whole-stage codegen, projections,
        # predicates) is an LRU of 100 classes by default. One pass of
        # the 9-query analyst loop generates 121, so a cyclic pass
        # missed on every lookup and recompiled 53-56 classes per warm
        # pass (about 0.4 s of Janino, a sixth of the pass; 46-49 per
        # pass of the ETL loop). At 4,096 a warm rerun compiles none.
        # The whole registry, swept twice in one session (local[2]):
        # the first sweep compiles 3,409 classes at sf0.001 and 3,377
        # at sf0.01, the second recompiles 185 and 174 of them (4,751
        # at sf0.001 with 100 entries). Metaspace after the sf0.001
        # sweeps: 233 MB against 207 MB with 100 entries. A static
        # conf, read once when the JVM first generates code: a JVM
        # started elsewhere keeps its own size.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Python workers start through pyspark_graft_worker, which
        # stops the per-task re-read of pyspark.zip's and the spark-core
        # jar's zip directories (0.18-0.25 s per task). The worker
        # module, not spark.python.daemon.module: the daemon process
        # keeps its pyspark.daemon name, which is how tools find it.
        .config("spark.python.worker.module", "pyspark_graft_worker")
    )
    conf = dict(extra_conf or {})
    # The daemon imports its worker module from the workers' path; put
    # the repository root first, keeping any path the caller set, so a
    # session started from any directory finds pyspark_graft_worker.
    conf[_WORKER_PATH] = os.pathsep.join(
        p for p in (REPO_ROOT, conf.get(_WORKER_PATH)) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far: the count of
    ``CodegenMetrics.METRIC_COMPILATION_TIME``. A lookup that hits the
    compiled-class cache compiles nothing, so the delta of this count
    across a run is that run's cache misses."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
