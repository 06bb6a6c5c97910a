"""Every registered query must hash-match its DuckDB oracle at sf0.01
(the same check the driver runs for CORRECTNESS_r{N}.json) — and every
library-tier spec (plans/library.py) is held to the identical bar, so
"unregistered" never means "less checked"."""

from __future__ import annotations

import pytest

from radares_spark.plans import REGISTRY
from radares_spark.plans.library import ALL_LIBRARY_SPECS
from tests.conftest import SF_ORACLE
from tests.oracle import compare_query

# The sweep runs in the default tier except its one outlier (22.8 s
# in the r15 durations log), which stays in the slow tier.
SLOW = {"asof_salted_error_click"}


def _names(specs) -> list:
    return [
        pytest.param(n, marks=pytest.mark.slow) if n in SLOW else n
        for n in sorted(specs)
    ]


@pytest.mark.parametrize("name", _names(REGISTRY))
def test_oracle_parity(spark, name):
    ok, msg = compare_query(spark, SF_ORACLE, name, REGISTRY[name])
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", _names(ALL_LIBRARY_SPECS))
def test_library_parity(spark, name):
    ok, msg = compare_query(spark, SF_ORACLE, name, ALL_LIBRARY_SPECS[name])
    assert ok, f"{name}: {msg}"
    assert not msg.startswith("OK: 0 "), f"{name}: degenerate empty result"
