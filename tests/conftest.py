import pytest

import georip_spark


@pytest.fixture(scope="session")
def spark():
    s = georip_spark.get_spark(
        "georip-tests",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
