import os

import pytest

from flight_delays_progetto_big_data_2024_spark.compat.protobuf_shim import ensure_protobuf
from flight_delays_progetto_big_data_2024_spark.session import get_spark

# Must run at import time, BEFORE any fixture creates the SparkSession:
# the JVM gateway snapshots the environment at launch, and local-mode
# Python workers inherit it — the TWS protobuf discovery has to be in
# place by then (no-op when no host runtime exists; tests keep their
# importorskip gates).
ensure_protobuf()

#: Parity tests run at the smallest scale factor for speed; the driver's
#: own correctness gate runs the same pairs at sf0.01.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    session = get_spark(
        app_name="flight-delays-spark-tests",
        cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"),
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield session


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle(sf_dir):
    """DuckDB views over the parity-test tables."""
    from tests.oracle_utils import oracle_connection

    with oracle_connection(sf_dir) as con:
        yield con
