from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from radares_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def pytest_terminal_summary(terminalreporter, exitstatus):
    """A run whose marker filter deselects every test exits 5 with only
    "N deselected" — say where those tests went."""
    deselected = len(terminalreporter.stats.get("deselected", []))
    if exitstatus == pytest.ExitCode.NO_TESTS_COLLECTED and deselected:
        terminalreporter.write_line(
            f"no test ran: all {deselected} collected tests were deselected "
            "(the default tier runs -m 'not slow'); rerun with -m slow"
        )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("radares-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
