from __future__ import annotations

import contextlib
import sys
import uuid
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from dataengineeringworkshop_spark.session import get_spark

    s = get_spark(app_name="dew-tests")
    yield s


import pytest as _pytest


@_pytest.fixture(scope="session")
def spark_session_global(spark):
    """Session-scoped alias usable inside hypothesis @given tests (the
    function-scoped fixture cannot be combined with @given)."""
    return spark


@_pytest.fixture
def jobs_started(spark):
    """A context manager that collects the ids of the Spark jobs started
    inside its block: ``with jobs_started() as jobs: ...``."""

    @contextlib.contextmanager
    def started():
        sc = spark.sparkContext
        group = f"probe-{uuid.uuid4().hex}"
        jobs: list[int] = []
        sc.setJobGroup(group, "job-count probe")
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            jobs.extend(sc.statusTracker().getJobIdsForGroup(group))

    return started
