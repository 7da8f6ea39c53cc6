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
    on the driver. The standard-components memo is emptied for the test
    and its rounds-path entries dropped after, so registry entries that
    read it recompute on the rounds."""
    from clean_census_acs_data_spark.operators import components, dedup

    monkeypatch.setattr(components, "_DRIVER_MAX_EDGES", -1)
    saved = dict(dedup._STD_COMPONENTS_MEMO)
    dedup._STD_COMPONENTS_MEMO.clear()
    yield
    for df in dedup._STD_COMPONENTS_MEMO.values():
        df.unpersist()
    dedup._STD_COMPONENTS_MEMO.clear()
    dedup._STD_COMPONENTS_MEMO.update(saved)
