from __future__ import annotations

import os

import pytest

SF_SMOKE = os.environ.get("SSP_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from ssp_spark.session import get_spark

    s = get_spark("ssp-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_SMOKE}/{name}.parquet'"
        )
    yield con
    con.close()
