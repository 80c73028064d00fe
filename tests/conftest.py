"""Shared fixtures: one SparkSession per test run, testdata paths."""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers import the package by name (pickled-by-reference UDFs,
# the DataSource connector): put the checkout on their path too, so the
# suite runs from any working directory.
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from project2_bigdata_spark.session import get_session  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_session("p2bd-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def executed_plan(spark, sf_dir):
    """``name -> executedPlan().toString()`` of a registered query at
    ``sf_dir``, built at most once per test run: the whole-registry plan
    scans share one build of every query."""
    from project2_bigdata_spark.plans import REGISTRY

    cache: dict[str, str] = {}

    def plan(name: str) -> str:
        if name not in cache:
            df = REGISTRY[name].fn(spark, sf_dir)
            cache[name] = df._jdf.queryExecution().executedPlan().toString()
        return cache[name]

    return plan
