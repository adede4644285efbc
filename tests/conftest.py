import contextlib
import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_DIR_MID = os.environ.get("SPARK_GRAFT_TEST_SF_MID", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from graphdatabase_spark import get_spark

    s = get_spark("graphdatabase-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_mid():
    return SF_DIR_MID


@contextlib.contextmanager
def py4j_commands(spark):
    """Count the Py4J commands the driver sends to the JVM inside the
    block: ``with py4j_commands(spark) as sent: ...`` leaves the count
    in ``sent[0]``. py4j's memory-release commands (``m d``, sent when
    Python drops a JVM object reference, often from its finalizer
    thread) are left out: they follow garbage collection, not the
    request. The gateway client is restored on exit."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = [0]

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield sent
    finally:
        del client.send_command
