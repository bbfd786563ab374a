from __future__ import annotations

import contextlib
import itertools
import os

import pytest

from tibame_project_spark.session import get_spark

SF_DIR = os.environ.get("TIBAME_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # isolated warehouse: saveAsTable/bucketing tests must not leave state
    # behind in the repo or collide with a previous run's directories
    wh = str(tmp_path_factory.mktemp("warehouse"))
    s = get_spark(
        "tibame-tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def spark_global(spark):
    """Alias so hypothesis-driven tests reuse the session fixture without
    triggering function-scoped teardown per example."""
    return spark


_JOB_GROUPS = itertools.count()


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs() as jobs: ...`` counts the Spark jobs launched
    from this thread inside the block: they run under a fresh job group,
    and ``jobs()`` returns how many the status tracker holds for it so
    far — callable inside the block (e.g. from a wrapped engine function)
    or after it."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def count():
        group = f"spark_jobs-{next(_JOB_GROUPS)}"

        def jobs() -> int:
            # job-start events reach the status store through the
            # listener bus asynchronously: drain it before reading
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return len(sc.statusTracker().getJobIdsForGroup(group))

        sc.setJobGroup(group, group)
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    return count
