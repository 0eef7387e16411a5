import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from stanza_spark.session import get_spark
    s = get_spark("pytest", cores=4, shuffle_partitions=4,
                  extra={"spark.ui.showConsoleProgress": "false"})
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'")
    return con
