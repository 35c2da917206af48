import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webgraph_big_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # tiny fixtures: fewer shuffle partitions = fewer tasks = faster jobs;
    # AQE would coalesce anyway but starting small avoids the task churn.
    s = get_spark("wbs-tests", shuffle_partitions=2)
    yield s
    s.stop()


@pytest.fixture()
def tmp_run_dir(tmp_path):
    return str(tmp_path / "run")
