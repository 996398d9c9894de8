from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MID = os.environ.get("SPARK_GRAFT_TEST_SF_DIR_MID", "/root/testdata/sf0.01")


# The suite runs tiny data (sf0.001): every action is scheduling-bound,
# and the r13/r14 scaling measurements show low core counts WIN there
# (test_manifest.py full file: 287 s at local[32], 233 s at local[8],
# 217 s at local[4] — same 72 passed). Pin the test session to local[8]
# (the driver's own low-core bench point) instead of inheriting
# local[$SPARK_GRAFT_CPUS]=32 so the default suite stays inside the
# verify budget; override with SPARK_GRAFT_TEST_CPUS. bench.py is
# untouched — it keeps the driver's master contract.
TEST_CPUS = os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    from bigdata_googleplaystore_spark.session import get_spark

    # get_spark sizes the local-mode JVM heap for an explicit local
    # master too (the window spill-stress test OOMs at Spark's ~1g)
    spark = get_spark(
        app_name="bgps-tests", master=f"local[{TEST_CPUS}]", shuffle_partitions=8
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_mid():
    return SF_DIR_MID


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
