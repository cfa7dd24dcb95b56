import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))  # fuzzgen import
sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))


@pytest.fixture(scope="session")
def spark():
    from rle_spark.engine import get_spark

    # The suite's live driver heap fits in a few GB; get_spark's 48g
    # default lets the one session-wide JVM grow past 14 GB RSS, enough
    # for a 16 GB host's OOM killer to take it mid-suite.
    os.environ.setdefault("RLE_SPARK_DRIVER_MEM", "6g")
    s = get_spark("rle-spark-tests", cpus=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
