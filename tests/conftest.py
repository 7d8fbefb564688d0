import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from archive_query_log_spark.session import get_spark

    s = get_spark(
        app_name="aql-spark-tests",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        shuffle_partitions=8,
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
