import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]


@pytest.fixture(scope="session")
def spark():
    from mydatasyncer_spark.session import get_spark

    return get_spark("perfbench-tests")
