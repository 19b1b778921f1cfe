import uuid
from contextlib import contextmanager

import pytest

from knowledge_graph_rag_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kgrs-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def count_jobs(spark):
    """``with count_jobs() as jobs:`` — after the block, ``jobs`` holds the
    ids of the Spark jobs it ran, tagged with a unique job group."""
    sc = spark.sparkContext

    @contextmanager
    def counter():
        group, jobs = f"count_jobs-{uuid.uuid4().hex}", []
        sc.setJobGroup(group, "counted block")
        try:
            yield jobs
        finally:
            sc.setJobGroup(None, None)
            jobs.extend(sc.statusTracker().getJobIdsForGroup(group))

    return counter
