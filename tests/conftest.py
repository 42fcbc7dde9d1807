import os

import pytest

from rabbit_index_ingest_spark.session import get_spark


def _driver_heap_conf() -> dict[str, str]:
    """Half the host's MemTotal as the driver heap. The package default
    (48g) exceeds small hosts, where the local-mode JVM then grows until
    the OOM killer takes it mid-suite. An explicit SPARK_DRIVER_MEMORY
    wins; hosts without /proc/meminfo keep the package default."""
    if "SPARK_DRIVER_MEMORY" in os.environ:
        return {}
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration):
        return {}
    return {"spark.driver.memory": f"{max(1024, kb // 2 // 1024)}m"}


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests", cores=4, shuffle_partitions=8,
        extra_conf=_driver_heap_conf(),
    )
    yield s
    s.stop()
