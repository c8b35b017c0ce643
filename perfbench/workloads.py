"""The benchmark's workloads: their inputs, their ops and their checks.

A workload is a list of ops run in order as one pass. Each op is one
closed-loop request: it starts after the previous op returned, and it
runs its phases through ``phase(name, fn)`` so the runner can time
(and, in a traced run, attribute) each phase. An op marked
``timed=False`` is part of the pass's scenario (a file landing between
two ingestion runs) but not a request; it is never timed.

Correctness is checked once per run, after the timed passes, on the
results the last timed pass captured.
"""

from __future__ import annotations

import asyncio
import hashlib
import importlib.util
import json
import os
import shutil
import sys
from collections.abc import Callable
from dataclasses import dataclass, field

import datagen

# Registry queries of the analyst workload, in pass order: a relational
# aggregate, an anti join, a window, a statistic with a bounded-probe
# dispatch, the paper's three compound-return shapes, a builder that runs
# many jobs over the shared co-purchase memo, and one Arrow-kernel row so
# the Python workers are on the query path too. An odd op count puts the
# median sample inside one op's cluster instead of in the gap between
# two. ``compound_evolution_by_user`` is a known engine failure: on about
# one generated input in forty (seed 510 among seeds 500-539) its
# 6-digit rounding disagrees with the DuckDB oracle in the last digit,
# and the run reports it in ``failed`` and ``correct``.
INTERACTIVE_QUERIES = (
    "q1_pricing_summary",
    "customers_without_orders_anti",
    "events_sessionization",
    "mann_whitney_u",
    "weekly_compound_by_user",
    "compound_evolution_by_user",
    "weekly_vs_window_equivalence",
    "kcore_copurchase",
    "dedup_simhash",
)

# Registry writer and streaming rows that ride along the ETL pass: a CDC
# compaction, an SCD2 merge, and a streaming aggregate whose file-source
# staging is where temp directories leak.
ETL_QUERIES = ("cdc_apply_compaction", "scd2_merge_emulation", "streaming_daily_counts")

# Ops whose Spark job count legitimately differs between two passes
# of one run (their job count depends on data-dependent loop exits
# or on AQE re-planning that is not repeatable); the repeat test
# skips them.
NON_REPEATING: tuple[str, ...] = ()

SF = 0.001  # star-schema scale: 6k lineitems, 1k events, 500 documents
ETL_YEARS = range(2015, 2024)  # extracted every pass
ETL_NEW_YEAR = 2024  # lands between the two incremental runs
UPSERT_YEAR = 2017
MERGE_YEAR = 2020
TABLE = "carbon_footprint"


@dataclass
class Op:
    name: str
    run: Callable  # run(phase) -> captured result
    timed: bool = True


@dataclass
class Collected:
    """A query result as ``tests.oracle_harness.compare`` reads it."""

    rows: list
    columns: list

    def collect(self) -> list:
        return self.rows


@dataclass
class Workload:
    name: str
    sf: float
    ops: list[Op] = field(default_factory=list)
    reset: Callable[[], None] = lambda: None  # untimed, before each pass
    check: Callable[[dict], list[str]] = lambda captured: []


def _registry_op(spark, spec, sf_dir: str) -> Op:
    def run(phase):
        df = phase("build", lambda: spec.builder(spark, sf_dir))
        # Force Catalyst (analysis, optimisation, physical planning) on
        # its own; collect() then reuses the same executed plan.
        phase("plan", lambda: df._jdf.queryExecution().executedPlan())
        rows = phase("exec", df.collect)
        return Collected(rows, df.columns)

    return Op(spec.name, run)


def _harness():
    """``tests/oracle_harness.py`` of this checkout, loaded by path."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tests", "oracle_harness.py")
    spec = importlib.util.spec_from_file_location("oracle_harness", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["oracle_harness"] = mod  # dataclasses look their module up
    spec.loader.exec_module(mod)
    return mod


def _oracle_failures(specs, names, captured: dict, sf_dir: str, tmp: str) -> list[str]:
    harness = _harness()
    con = harness.duck_connection(sf_dir)
    con.execute(f"SET temp_directory='{tmp}'")
    failures = []
    try:
        for name in names:
            res = captured.get(name)
            if res is None:
                failures.append(f"{name}: no result")
                continue
            cmp = harness.compare(name, res, specs[name].oracle, con)
            if not cmp.ok:
                failures.append(f"{name}: {cmp.detail} {cmp.mismatches[:1]}")
    finally:
        con.close()
    return failures


def interactive(spark, specs, root: str, seed: int) -> Workload:
    sf = SF
    sf_dir = os.path.join(root, "data")
    datagen.write_star_schema(seed, sf, sf_dir)
    return Workload(
        name="interactive",
        sf=sf,
        ops=[_registry_op(spark, specs[n], sf_dir) for n in INTERACTIVE_QUERIES],
        check=lambda captured: _oracle_failures(
            specs, INTERACTIVE_QUERIES, captured, sf_dir, os.path.join(root, "tmp")
        ),
    )


def _table_hash(spark, table: str) -> str:
    df = spark.table(table)
    rows = _harness().normalize([tuple(r) for r in df.collect()], df.columns)
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def etl_ingest(spark, specs, root: str, seed: int) -> Workload:
    from pyspark.sql import functions as F

    from aws_etl_global_footprint_network_spark.operators import ingestion
    from aws_etl_global_footprint_network_spark.sources import rest_extractor
    from aws_etl_global_footprint_network_spark.streaming import incremental_ingest

    sf = SF
    sf_dir = os.path.join(root, "data")
    datagen.write_star_schema(seed, sf, sf_dir)
    payloads = datagen.footprint_payloads(seed, range(ETL_YEARS[0], ETL_NEW_YEAR + 1))
    # the landing file is serialised once here, so a pass only copies it
    landing = os.path.join(root, "landing", f"data_all_{ETL_NEW_YEAR}.json")
    os.makedirs(os.path.dirname(landing))
    with open(landing, "w") as fh:
        json.dump(payloads[ETL_NEW_YEAR], fh)
    per_year = len(payloads[ETL_NEW_YEAR])
    raw = os.path.join(root, "raw")
    out = os.path.join(root, "incr_out")
    ckpt = os.path.join(root, "incr_ckpt")
    cfg = rest_extractor.ExtractionConfig(
        years=tuple(ETL_YEARS), output_dir=raw, politeness_s=(0.0, 0.0)
    )

    async def fetch(url: str):
        return 200, payloads[int(url.rsplit("/", 1)[1])]

    def year_file(year: int) -> str:
        return os.path.join(raw, f"data_all_{year}.json")

    def extract(phase):
        return phase("exec", lambda: asyncio.run(rest_extractor.extract_all(cfg, fetch)))

    def pipeline(phase):
        return phase(
            "exec", lambda: ingestion.run_pipeline(spark, os.path.join(raw, "*.json"), TABLE)
        )

    def upsert(phase):
        def go():
            df = ingestion.extract_and_transform(spark, year_file(UPSERT_YEAR))
            ingestion.upsert_partitions(
                df.withColumn("value", F.round(F.col("value") * 2, 6)), TABLE
            )

        return phase("exec", go)

    def merge(phase):
        def go():
            df = ingestion.extract_and_transform(spark, year_file(MERGE_YEAR))
            updates = df.filter(F.col("country_code") % 10 == 0).withColumn(
                "carbon", F.round(F.col("carbon") + 1, 6)
            )
            inserts = df.filter(F.col("country_code") % 40 == 0).withColumn(
                "country_code", F.col("country_code") + 1000
            )
            ingestion.merge_rowlevel(
                updates.unionByName(inserts), TABLE, "country_code", "year"
            )

        return phase("exec", go)

    def incremental(phase):
        return phase(
            "exec", lambda: incremental_ingest.incremental_ingest(spark, raw, out, ckpt)
        )

    def land(phase):
        shutil.copy(landing, year_file(ETL_NEW_YEAR))

    def read_back(phase):
        return phase(
            "exec",
            lambda: {
                r["year"]: r["count"]
                for r in incremental_ingest.read_warehouse(spark, out)
                .groupBy("year")
                .count()
                .collect()
            },
        )

    ops = [
        Op("extract_all", extract),
        Op("run_pipeline", pipeline),
        Op("upsert_partitions", upsert),
        Op("merge_rowlevel", merge),
        Op("incremental_ingest_1", incremental),
        Op("land_new_year", land, timed=False),
        Op("incremental_ingest_2", incremental),
        Op("read_back", read_back),
        *(_registry_op(spark, specs[n], sf_dir) for n in ETL_QUERIES),
    ]

    def reset() -> None:
        ingestion.drop_table_and_location(spark, TABLE)
        for d in (raw, out, ckpt):
            shutil.rmtree(d, ignore_errors=True)

    def check(captured: dict) -> list[str]:
        failures = []
        res = captured.get("extract_all")
        if res is None or not res.ok or len(res.succeeded) != len(ETL_YEARS):
            failures.append(f"extract_all: {res}")
        res = captured.get("run_pipeline")
        expect = per_year * len(ETL_YEARS)
        if res is None or res.row_count != expect:
            failures.append(f"run_pipeline: row_count {getattr(res, 'row_count', None)} != {expect}")
        if captured.get("incremental_ingest_2", 0) < 1:
            failures.append("incremental_ingest_2: the new year was not ingested")
        counts = captured.get("read_back") or {}
        want = {y: per_year for y in (*ETL_YEARS, ETL_NEW_YEAR)}
        if counts != want:
            failures.append(f"read_back: per-year counts {counts} != {per_year} each")
        # idempotency: re-applying the upsert or the merge leaves the
        # table's sorted-row hash unchanged
        before = _table_hash(spark, TABLE)
        for name, op in (("upsert_partitions", upsert), ("merge_rowlevel", merge)):
            op(lambda _, fn: fn())
            after = _table_hash(spark, TABLE)
            if after != before:
                failures.append(f"{name}: second application changed the table")
        failures += _oracle_failures(
            specs, ETL_QUERIES, captured, sf_dir, os.path.join(root, "tmp")
        )
        return failures

    return Workload(
        name="etl_ingest", sf=sf, ops=ops, reset=reset, check=check
    )


WORKLOADS = {"interactive": interactive, "etl_ingest": etl_ingest}
