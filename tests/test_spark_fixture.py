"""The shared ``spark`` fixture after its JVM dies: later tests that take
it fail at set-up with the JVM's exit status."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

# The suite's own set-up hook over a small, private local[1] session.
CONFTEST = f"""
import importlib.util

import pytest

from sling_spark.session import get_spark

_spec = importlib.util.spec_from_file_location(
    "suite_conftest", {str(REPO / "tests" / "conftest.py")!r}
)
_suite = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_suite)
pytest_runtest_setup = _suite.pytest_runtest_setup


@pytest.fixture(scope="session")
def spark():
    yield get_spark(master="local[1]", app_name="dead_jvm_probe", shuffle_partitions=1)
"""

PROBE = """
from pyspark import SparkContext


def test_kill_own_jvm(spark):
    proc = SparkContext._gateway.proc
    proc.kill()
    proc.wait()


def test_later_spark_test(spark):
    spark.range(1).count()


def test_spark_free_test():
    pass
"""


def test_dead_jvm_fails_later_spark_tests_with_its_exit_status(tmp_path):
    (tmp_path / "conftest.py").write_text(CONFTEST)
    (tmp_path / "test_probe.py").write_text(PROBE)
    run = subprocess.run(
        [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider", str(tmp_path)],
        cwd=REPO,
        env=dict(os.environ, SLING_SPARK_DRIVER_MEM="1g"),
        capture_output=True,
        text=True,
        timeout=300,
    )
    out = run.stdout
    assert "2 passed, 1 error" in out, out
    assert "ERROR at setup of test_later_spark_test" in out, out
    assert "\nSpark JVM exited with status -9 (" in out, out
    assert "py4j" not in out.lower(), out
