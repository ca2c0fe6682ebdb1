import pytest

import georip_spark

# The effective session conf, filled when the session starts and
# printed once in the terminal summary.
_SESSION_CONF: dict[str, str] = {}


@pytest.fixture(scope="session")
def spark():
    s = georip_spark.get_spark(
        "georip-tests",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    s.sparkContext.setLogLevel("ERROR")
    conf = s.conf
    _SESSION_CONF.update({
        "master": s.sparkContext.master,
        "spark.driver.memory": conf.get("spark.driver.memory"),
        "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.optimizer.excludedRules": conf.get(
            "spark.sql.optimizer.excludedRules", ""
        ),
    })
    yield s
    s.stop()


def pytest_terminal_summary(terminalreporter):
    if _SESSION_CONF:
        terminalreporter.write_sep("-", "spark session conf")
        for k, v in _SESSION_CONF.items():
            terminalreporter.write_line(f"{k} = {v}")
