import pytest

from cartwright_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cartwright_spark_tests", master="local[4]", shuffle_partitions=8)
    # integer overflow must raise, not wrap (the int64-exact claims)
    assert s.conf.get("spark.sql.ansi.enabled") == "true"
    yield s
