import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dask_pipes_spark.session import get_session

#: Small SF for fast unit tests; parity vs DuckDB runs at sf0.01 (driver scale).
SF_SMOKE = "/root/testdata/sf0.001"
SF_DRIVER = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_session("pytest", cpus=8)
    yield s


@pytest.fixture(scope="session")
def registry():
    from dask_pipes_spark import operators  # noqa: F401

    from dask_pipes_spark.registry import ORACLES, QUERIES

    return QUERIES, ORACLES


#: Job-group ids for :func:`jobs_run`: unique per call, so a group never
#: also counts jobs an earlier call left in the status tracker.
_JOB_GROUPS = itertools.count()


def jobs_run(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` runs, counted in its own job group."""
    sc = spark.sparkContext
    group = f"count-jobs-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
