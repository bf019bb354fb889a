from __future__ import annotations

import pytest

from ticktock_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ticktock-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def state(spark):
    """``state()`` → the session's persisted RDD ids and its CacheManager
    entry count: what an operator leaves behind if it caches."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)

    def state():
        persisted = spark.sparkContext._jsc.getPersistentRDDs().keys()
        return sorted(persisted), int(field.get(cm).size())

    return state
