"""scripts/ab.py, the same-session A/B harness: a module loaded from a
git revision reproduces the working tree's rows, and an arm whose rows
differ fails the comparison."""

from __future__ import annotations

import dataclasses
import importlib.util
import os

import pytest

from aws_etl_global_footprint_network_spark.registry import load_all

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_ab():
    spec = importlib.util.spec_from_file_location(
        "ab_harness", os.path.join(REPO, "scripts", "ab.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_self_ab_reports_identical_rows(spark, sf_dir, tmp_path, capsys):
    """Self-A/B at HEAD for a plain module and for streaming/jobs.py,
    whose import reads other queries' live registry entries."""
    ab = _load_ab()
    live = load_all()
    pkg = "aws_etl_global_footprint_network_spark"
    for module, query in (
        ("operators/relational.py", "q1_pricing_summary"),
        ("streaming/jobs.py", "streaming_daily_counts"),
    ):
        old = ab.load_rev_specs("HEAD", f"{pkg}/{module}", str(tmp_path))
        new = load_all()
        # the throwaway registry leaves the live one as it was
        assert new == live
        assert old[query].builder is not new[query].builder
        ab.ab(spark, old, new, [query], sf_dir, 2)
        out = capsys.readouterr().out
        assert out.count(query) == 2
        assert out.count("identical=True") == 2


def test_differing_arm_fails(spark, sf_dir):
    ab = _load_ab()
    spec = load_all()["q1_pricing_summary"]
    short = dataclasses.replace(
        spec, builder=lambda s, d: spec.builder(s, d).limit(1)
    )
    with pytest.raises(SystemExit, match="MISMATCH in q1_pricing_summary"):
        ab.ab(spark, {spec.name: spec}, {spec.name: short}, [spec.name], sf_dir, 1)


def test_run_keeps_memoized_builds_warm(spark, sf_dir):
    """Each arm starts with no live scope but with the shared builds
    still cached, so a graph A/B does not time the edge build."""
    from aws_etl_global_footprint_network_spark.functions import baskets
    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope
    from aws_etl_global_footprint_network_spark.operators.mining import (
        _copurchase_edges,
    )

    ab = _load_ab()
    edges = _copurchase_edges(spark, sf_dir)
    edges.count()
    scoped = CacheScope("ab_probe").persist(spark.range(3))
    memo = dict(baskets._BUILD_MEMO)
    ab._run(spark, load_all()["kcore_copurchase"], sf_dir)
    assert not scoped.is_cached
    assert baskets._BUILD_MEMO == memo
    assert edges.is_cached
