from __future__ import annotations

import pytest

from tods_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # local[$SPARK_GRAFT_CPUS], else the CPUs in this process's affinity
    s = get_spark(app_name="tods_spark_tests", shuffle_partitions=8)
    yield s
