import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, os.path.dirname(BENCH))
sys.path.insert(0, BENCH)


@pytest.fixture(scope="session")
def spark():
    from elastic_freight_spark.session import get_spark

    s = get_spark(
        app_name="perfbench_tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()
