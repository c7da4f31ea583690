from __future__ import annotations

import pytest
from pyspark import SparkContext

from sling_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="sling_spark_tests", shuffle_partitions=8)
    yield s


@pytest.hookimpl(tryfirst=True)
def pytest_runtest_setup(item):
    """Once the session's JVM has died, fail every later test that takes
    ``spark`` at set-up with the JVM's exit status, instead of handing
    it a dead session (a Py4J connection traceback per test). The
    session is not rebuilt: that would hide the fault."""
    if "spark" not in item.fixturenames:
        return
    proc = getattr(SparkContext._gateway, "proc", None)
    status = proc.poll() if proc is not None else None
    if status is not None:
        pytest.fail(
            f"Spark JVM exited with status {status} (-N: killed by signal N; "
            "-9 is SIGKILL, e.g. from the OOM killer); the session-scoped "
            "spark fixture is dead and is not rebuilt",
            pytrace=False,
        )
