from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))


@pytest.fixture(scope="session")
def spark():
    from airflow_project_flight_price_analysis_spark.session import get_spark

    spark = get_spark(app_name="perfbench-tests", cpus=2, shuffle_partitions=2,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield spark
    spark.stop()
