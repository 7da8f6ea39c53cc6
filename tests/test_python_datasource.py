"""Python Data Source connector (sources/census_datasource.py):
partition planning = state chunks, NULL-fill schema alignment,
dead-letter skip policy, retry exhaustion failure, truncated and
No Content bodies."""

from __future__ import annotations

import os

import pytest

from clean_census_acs_data_spark.sources.census import _chunks
from clean_census_acs_data_spark.sources.census_datasource import (
    CensusRestDataSource,
    register_census_datasource,
)
from clean_census_acs_data_spark.sources.fake_census import fake_census_fetcher

FAKE = "clean_census_acs_data_spark.sources.fake_census:fake_census_fetcher"


def _read(spark, **overrides):
    register_census_datasource(spark)
    opts = {
        "year": 2023,
        "dataset": "acs/acs5/profile",
        "get_vars": "NAME,DP02_0060E,DP02_0061E,DP02_0062E",
        "states": "01,02,04,06,09,55,12",
        "chunk_size": 3,
        "fetcher": FAKE,
        "max_attempts": 2,
        "backoff_base_s": 0.001,
    }
    opts.update(overrides)
    r = spark.read.format("census_rest")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_chunking_matches_reference():
    # chunk_list(states, 3) semantics (Test_census_tract.py:329-331)
    assert _chunks(["a", "b", "c", "d", "e"], 3) == [["a", "b", "c"], ["d", "e"]]


def test_partitions_are_state_chunks(spark):
    df = _read(spark)
    assert df.rdd.getNumPartitions() == 3  # ceil(7 states / chunk_size 3)


def test_schema_and_null_fill_alignment(spark):
    df = _read(spark)
    assert df.columns == [
        "NAME", "DP02_0060E", "DP02_0061E", "DP02_0062E",
        "state", "county", "tract", "state_fips",
    ]
    rows = df.collect()
    # chunk [01,02,04]: fake drops the last requested var → NULL-filled
    st01 = [r for r in rows if r.state_fips == "01"]
    assert st01 and all(r.DP02_0062E is None for r in st01)
    # chunk [06,09,55]: the fake returns an empty body when 09 is in the
    # chunk (empty-relation guard); chunk [12] carries an extra unmapped
    # column that the fixed plan-time schema drops
    assert not [r for r in rows if r.state_fips in ("06", "09", "55")]
    st12 = [r for r in rows if r.state_fips == "12"]
    assert st12 and "DPXX_9999E" not in df.columns
    # all cells are strings (all-string wire tier)
    assert all(f.dataType.simpleString() == "string" for f in df.schema.fields)


def test_dead_letter_skip_policy(spark):
    # state 05 → HTTP 500 every attempt; on_error=skip drops the chunk
    df = _read(spark, states="05,06", chunk_size=1, on_error="skip")
    fips = {r.state_fips for r in df.collect()}
    assert fips == {"06"}


def test_retry_exhaustion_fails_task(spark):
    df = _read(spark, states="05", chunk_size=1)  # default on_error=fail
    with pytest.raises(Exception, match="HTTP 500|census fetch failed"):
        df.collect()


def wire_fault_fetcher(url, params):
    """The fake census API with a wire fault picked by the dataset path
    (the last URL segment): ``trunc-once`` cuts the 200 body in half on
    the first call, ``trunc-always`` on every call, ``no-content``
    answers 204 with an empty body. The base URL is a directory: every
    call appends one line to ``calls.log`` there."""
    base, mode = url.rsplit("/", 2)[0], url.rsplit("/", 1)[1]
    log = os.path.join(base, "calls.log")
    with open(log, "a") as f:
        f.write(mode + "\n")
    with open(log) as f:
        calls = sum(line.strip() == mode for line in f)
    if mode == "no-content":
        return 204, {}, ""
    status, headers, body = fake_census_fetcher(url, params)
    if mode == "trunc-always" or (mode == "trunc-once" and calls == 1):
        body = body[: len(body) // 2]
    return status, headers, body


def test_wire_faults_follow_the_shared_retry_policy(spark, tmp_path):
    def read(dataset, **overrides):
        return _read(
            spark, dataset=dataset, base_url=str(tmp_path), states="06", chunk_size=1,
            fetcher="tests.test_python_datasource:wire_fault_fetcher", **overrides,
        ).collect()

    def calls(mode):
        with open(tmp_path / "calls.log") as f:
            return sum(line.strip() == mode for line in f)

    # truncated on the first attempt only: retried, delivered by call 2
    rows = read("trunc-once")
    assert sorted(r.tract for r in rows) == ["000000", "000001"]
    assert {r.state_fips for r in rows} == {"06"} and calls("trunc-once") == 2
    # truncated on every attempt: a 502 that follows the on_error policy
    assert read("trunc-always", on_error="skip") == []
    assert calls("trunc-always") == 2  # max_attempts
    with pytest.raises(Exception, match="HTTP 502"):
        read("trunc-always")
    # 204 No Content: an empty result, not an error (on_error=fail)
    assert read("no-content") == []
    assert calls("no-content") == 1


def test_datasource_name():
    assert CensusRestDataSource.name() == "census_rest"


def test_push_filters_prunes_fetch_partitions():
    """state_fips equality/IN predicates must shrink the request
    universe before any fetch is planned (REST partition pruning)."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, In

    from clean_census_acs_data_spark.sources.census_datasource import CensusRestReader
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([StructField("NAME", StringType()),
                         StructField("state_fips", StringType())])
    opts = {"get_vars": "NAME", "states": "01,02,04,06,09", "chunk_size": "2"}

    r = CensusRestReader(schema, dict(opts))
    rest = list(r.pushFilters([EqualTo(("state_fips",), "04")]))
    assert rest == []  # accepted
    assert [p.states for p in r.partitions()] == [["04"]]

    r = CensusRestReader(schema, dict(opts))
    rest = list(r.pushFilters([In(("state_fips",), ("01", "09")),
                               GreaterThan(("NAME",), "M")]))
    # unsupported filter handed back to Spark
    assert len(rest) == 1 and isinstance(rest[0], GreaterThan)
    assert [p.states for p in r.partitions()] == [["01", "09"]]


def test_push_filters_end_to_end(spark):
    """A .where(state_fips = ...) on the live read path returns exactly
    the pruned states' rows (fake fetcher, no network)."""
    df = _read(spark).where("state_fips = '02'")
    fips = {r.state_fips for r in df.collect()}
    assert fips == {"02"}
    assert df.rdd.getNumPartitions() == 1  # 1 chunk, not ceil(7/3)


# ---------------------------------------------------------------------------
# Python DataSource WRITER (sources/jsonl_sink.py)
# ---------------------------------------------------------------------------


def test_jsonl_sink_writes_committed_files(spark, tmp_path):
    """Two-phase commit: per-partition staged files renamed on commit,
    _SUCCESS manifest lists them, content is line-JSON of every row."""
    import json
    import os

    from clean_census_acs_data_spark.sources.jsonl_sink import register_jsonl_sink

    register_jsonl_sink(spark)
    out = str(tmp_path / "dl")
    df = spark.createDataFrame(
        [(1, "boom", 500), (2, "slow", 408), (3, "nope", 403)],
        "id long, error string, status int",
    ).repartition(2)
    df.write.format("jsonl_deadletter").option("path", out).mode("append").save()

    files = sorted(os.listdir(out))
    assert "_SUCCESS" in files
    parts = [f for f in files if f.startswith("part-")]
    assert len(parts) == 2
    assert not [f for f in files if f.startswith("._staged")]
    rows = []
    for p in parts:
        with open(os.path.join(out, p), encoding="utf-8") as fh:
            rows += [json.loads(ln) for ln in fh]
    assert sorted(r["id"] for r in rows) == [1, 2, 3]
    with open(os.path.join(out, "_SUCCESS"), encoding="utf-8") as fh:
        manifest = json.load(fh)
    assert sum(e["n_rows"] for e in manifest["files"]) == 3


def test_jsonl_sink_roundtrip_dead_letters(spark, tmp_path):
    """End-to-end: the census dead-letter split exported through the
    custom sink and read back as JSON."""
    from clean_census_acs_data_spark.plans.census_pipeline import run_census_pipeline
    from clean_census_acs_data_spark.sources.fake_census import fake_census_fetcher
    from clean_census_acs_data_spark.sources.jsonl_sink import register_jsonl_sink

    register_jsonl_sink(spark)
    _clean, dead = run_census_pipeline(
        spark, table_name="dp02", fetcher=fake_census_fetcher
    )
    out = str(tmp_path / "dead")
    dead.select("table_name", "state_chunk", "status", "error").write.format(
        "jsonl_deadletter"
    ).option("path", out).mode("append").save()
    back = spark.read.json(out + "/part-*.jsonl")
    assert back.count() == dead.count() == 1
    assert back.collect()[0].status == 500
