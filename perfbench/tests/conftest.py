import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from osmwaterwayextractor_spark.plans.pipeline import spark_session

    local = tmp_path_factory.mktemp("spark-local")
    s = spark_session(
        app="perfbench-tests",
        master="local[2]",
        extra={"spark.driver.memory": "2g", "spark.local.dir": str(local)},
    )
    yield s
    s.stop()
