"""The positional census wire decode (sources/rest.py ``decode_wire``)
against the map decode it replaced, and the job and py4j budget of one
census table: filling its response memo is one Spark job, and building
its clean frame from the filled memo is none."""

from __future__ import annotations

import json

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from clean_census_acs_data_spark import session as S
from clean_census_acs_data_spark.plans.census_pipeline import run_census_pipeline
from clean_census_acs_data_spark.sources import rest as R
from clean_census_acs_data_spark.sources.fake_census import fake_census_fetcher

EXPECTED = ["NAME", "V1", "V2", "V3"]
# extras include names that need quoting as SQL literals and identifiers
EXTRAS = ["X-1", "x y", "Z'q", "b\\s", "C`d"]
HEADER_POOL = EXPECTED + EXTRAS + list(R.GEO_COLS)
RESPONSE_DDL = "table_name string, state_chunk string, status int, body string"


def map_decode(responses, expected_vars):
    """The decode that ``decode_wire`` replaced: one map per data row
    keyed by the header, and a discovery job over the header rows."""
    rows = responses.select(
        "table_name", "state_chunk", F.from_json("body", R.WIRE_TYPE).alias("arr")
    )
    exploded = rows.select(
        "table_name",
        "state_chunk",
        F.element_at("arr", 1).alias("hdr"),
        F.explode(F.slice("arr", 2, F.greatest(F.size("arr") - 1, F.lit(0)))).alias("vals"),
    )
    kv = exploded.select("table_name", "state_chunk", F.map_from_arrays("hdr", "vals").alias("m"))
    observed = {
        r[0]
        for r in rows.where(F.size("arr") >= 2)
        .select(F.explode(F.element_at("arr", 1)).alias("k"))
        .distinct()
        .collect()
    }
    extras = sorted(observed - set(expected_vars) - set(R.GEO_COLS))
    cols = [F.element_at("m", v).alias(v) for v in expected_vars + extras]
    geo = [F.element_at("m", g).alias(g) for g in R.GEO_COLS if g in observed]
    return kv.select("table_name", F.col("state_chunk").alias("state_fips"), *cols, *geo)


cells = st.one_of(st.none(), st.text(alphabet="ab1-' ", max_size=3))


@st.composite
def response(draw):
    """(status, body): a 204 with no or an empty body, or a 200 whose
    header is a shuffled subset of the pool (missing variables, extra
    and geo columns) over 0..3 data rows (0: header only)."""
    if draw(st.integers(0, 3)) == 0:
        return 204, draw(st.sampled_from([None, ""]))
    shuffled = draw(st.permutations(HEADER_POOL))
    header = shuffled[: draw(st.integers(1, len(shuffled)))]
    rows = draw(st.lists(st.lists(cells, min_size=len(header), max_size=len(header)), max_size=3))
    return 200, json.dumps([header, *rows])


def _body(*rows) -> str:
    return json.dumps(list(rows))


@settings(max_examples=20, deadline=None)
@given(st.lists(response(), min_size=1, max_size=4))
@example([(200, _body(["V2", "state", "NAME", "V1"], ["2", "01", "n", "1"], ["b", "02", "m", "a"]))])
@example([(200, _body(["NAME", "V1", "X-1", "Z'q", "b\\s", "C`d"], ["n", "1", "x", "z", "b", "c"]))])
@example([(200, _body(["NAME"], ["n"])), (200, _body(["V3", "tract"], ["3", "000100"]))])
@example([(200, _body(["NAME", "V1", "x y"])), (200, _body(["NAME", "V1"], ["n", None]))])
@example([(204, None), (204, ""), (200, _body(["NAME", "county"], ["n", "001"]))])
@example([(204, None)])
@example([(200, "[]"), (200, _body(["NAME"], ["n"]))])
def test_positional_decode_equals_map_decode(spark, responses):
    frame = spark.createDataFrame(
        [("t", f"s{i}", status, body) for i, (status, body) in enumerate(responses)],
        RESPONSE_DDL,
    )
    ok, _ = R.split_dead_letters(frame)
    got = R.decode_wire(ok, EXPECTED, R.observed_headers(frame))
    ref = map_decode(ok, EXPECTED)
    assert got.dtypes == ref.dtypes
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def _count_jobs_and_py4j(spark, monkeypatch, group: str, action) -> tuple[int, int]:
    """Run ``action`` under a job group with py4j's ``send_command``
    wrapped; return (Spark jobs in the group, py4j commands sent)."""
    sc = spark.sparkContext
    client = sc._gateway._gateway_client
    sent = 0
    send = client.send_command

    def counting(*args, **kwargs):
        nonlocal sent
        sent += 1
        return send(*args, **kwargs)

    sc.setJobGroup(group, group)
    monkeypatch.setattr(client, "send_command", counting)
    try:
        action()
    finally:
        monkeypatch.undo()
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), sent


def test_census_table_is_one_fill_job_and_a_jobless_build(spark, monkeypatch):
    """Filling one table's response memo (fetch, checkpoint and header
    discovery) is exactly one Spark job; building the clean frame from
    the filled memo is no job and at most 400 py4j commands."""
    S.teardown_shared_memos()
    try:
        def run():
            run_census_pipeline(spark, table_name="dp02", fetcher=fake_census_fetcher)

        fill_jobs, _ = _count_jobs_and_py4j(spark, monkeypatch, "census-fill", run)
        assert fill_jobs == 1
        build_jobs, commands = _count_jobs_and_py4j(spark, monkeypatch, "census-build", run)
        assert build_jobs == 0
        assert commands <= 400
    finally:
        S.teardown_shared_memos()
