"""Physical-plan assertions for the round-9 tier: the layout entry
must actually prune partitions, and the retrieval tail must stay
broadcast-only (no sort-merge join sneaking into a ≤8-row loop)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from clean_census_acs_data_spark.session import get_spark

    s = get_spark(shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_partitioned_readback_prunes(spark):
    import hashlib
    import os
    import tempfile

    from clean_census_acs_data_spark.queries_relational import (
        partitioned_write_prune_scan,
    )

    # run once so the partitioned copy exists; the entry writes to a
    # per-process path (md5(sf_dir) + pid — ADVICE r4 #5 race fix), so
    # the readback must compute the SAME suffix, not rely on a stale
    # suffix-less dir from an older code version surviving in /tmp
    partitioned_write_prune_scan(spark, SF_DIR).collect()
    tag = hashlib.md5(SF_DIR.encode()).hexdigest()[:8]
    path = f"{tempfile.gettempdir()}/sparkgraft_part_{tag}_{os.getpid()}"
    plan = (
        spark.read.parquet(path)
        .where(F.col("source") == "src1")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan
    assert "source" in plan.split("PartitionFilters")[1][:120], (
        "source predicate did not reach PartitionFilters:\n" + plan[:800]
    )


def test_mmr_plan_is_broadcast_only(spark):
    from clean_census_acs_data_spark.queries_vectors import mmr_rerank_topk

    plan = (
        mmr_rerank_topk(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan, "tiny-tail join degraded to SMJ"


def test_colbert_plan_takes_ordered_topk(spark):
    from clean_census_acs_data_spark.queries_vectors import colbert_maxsim_topk

    plan = (
        colbert_maxsim_topk(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, "top-k did not plan as heap top-k"
