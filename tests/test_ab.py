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
    ab = _load_ab()
    live = load_all()
    old = ab.load_rev_specs(
        "HEAD",
        "aws_etl_global_footprint_network_spark/operators/relational.py",
        str(tmp_path),
    )
    new = load_all()
    # the throwaway registry leaves the live one as it was
    assert new == live
    assert old["q1_pricing_summary"].builder is not new["q1_pricing_summary"].builder
    ab.ab(spark, old, new, ["q1_pricing_summary"], sf_dir, 2)
    out = capsys.readouterr().out
    assert out.count("q1_pricing_summary") == 2
    assert out.count("identical=True") == 2


def test_differing_arm_fails(spark, sf_dir):
    ab = _load_ab()
    spec = load_all()["q1_pricing_summary"]
    short = dataclasses.replace(
        spec, builder=lambda s, d: spec.builder(s, d).limit(1)
    )
    with pytest.raises(SystemExit, match="MISMATCH in q1_pricing_summary"):
        ab.ab(spark, {spec.name: spec}, {spec.name: short}, [spec.name], sf_dir, 1)
