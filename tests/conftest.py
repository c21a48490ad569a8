from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

FIXDIR = REPO / "tests" / "fixtures"


@pytest.fixture(scope="session")
def pages_fixture() -> pd.DataFrame:
    return pd.read_parquet(FIXDIR / "pages_2000.parquet")


@pytest.fixture(scope="session")
def golden_fields() -> pd.DataFrame:
    return pd.read_parquet(FIXDIR / "golden_fields_2000.parquet")


@pytest.fixture(scope="session")
def spark():
    from ocr_system_spark.session import TIERED_JIT_CONF, get_spark

    # one JVM for the whole suite: tiered C1+C2 pays back over its minutes
    s = get_spark(cores=4, app_name="ocr_system_spark_tests", shuffle_partitions=8,
                  extra_conf=TIERED_JIT_CONF)
    yield s
    s.stop()
