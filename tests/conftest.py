from __future__ import annotations

import pytest

from clean_census_acs_data_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def cc_rounds(monkeypatch):
    """Force connected components onto the distributed rounds: with the
    driver bound at -1 no edge list, not even an empty one, is labeled
    on the driver. The shared memos are torn down before the test, so
    registry entries that read the standard components recompute on the
    rounds, and after it, so no rounds-path labels outlive the test."""
    from clean_census_acs_data_spark import session
    from clean_census_acs_data_spark.operators import components

    monkeypatch.setattr(components, "_DRIVER_MAX_EDGES", -1)
    session.teardown_shared_memos()
    yield
    session.teardown_shared_memos()
