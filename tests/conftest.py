import pytest

from rabbit_index_ingest_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # get_spark sizes the driver heap from the host (half of MemTotal,
    # at most 48g) unless SPARK_DRIVER_MEMORY is set
    s = get_spark(app_name="tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()
