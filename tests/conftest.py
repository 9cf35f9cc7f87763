import os
import sys

import pytest

# The driver heap defaults to 32g, more than a 16 GB box has: the test
# JVM then grows until the kernel OOM-kills it.
# hdk_spark.session reads it when it builds the session's conf.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from hdk_spark.session import get_spark

    s = get_spark("hdk_spark_tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        path = os.path.join(SF_CORRECT, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()
