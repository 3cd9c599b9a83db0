"""Shared pytest fixtures: reference-module import helper + SparkSession."""

from __future__ import annotations

import itertools
import sys

import pytest

REFERENCE_PATH = "/root/reference"


def import_reference(name: str):
    """Import a module from the read-only reference repo for parity checks.

    Used ONLY to compute expected values in tests (the reference's geometry
    functions are importable pure functions; network mains are guarded by
    __main__). Engine code never imports from the reference.
    """
    if REFERENCE_PATH not in sys.path:
        sys.path.insert(0, REFERENCE_PATH)
    import importlib

    return importlib.import_module(name)


@pytest.fixture(scope="session")
def spark():
    from building2osm_spark.session import get_spark

    s = get_spark(app="tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def jobs_of(spark):
    """Run fn() under a fresh Spark job group; return (result, the number
    of jobs fn ran — the ones building the result and the ones collecting
    it). Adds no Spark work of its own."""
    sc = spark.sparkContext
    groups = itertools.count()

    def _run(fn):
        group = f"jobs_of_{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    return _run


@pytest.fixture(scope="session")
def final_plan():
    """Executed-plan string, final plan only (AQE prints '== Initial
    Plan ==' after it; assertions must not match the initial one)."""

    def _fp(df) -> str:
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.split("== Initial Plan ==")[0]

    return _fp
