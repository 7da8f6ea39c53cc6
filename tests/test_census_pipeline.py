"""Golden-pipeline + operational-semantics tests for the census source
layer (SURVEY.md §5.2 items 2 and 4), using a deterministic fake
fetcher — no network. Exercises the FIXTURES.md A1 variants: missing
requested variable, extra unmapped column, empty response, failing
chunk (dead-letter), and the audit-every-attempt ordering."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from clean_census_acs_data_spark.plans.census_pipeline import (
    run_census_pipeline,
    run_zcta_pipeline,
    write_warehouse_layout,
)
from clean_census_acs_data_spark.sources import census as C
from clean_census_acs_data_spark.sources.audit import read_audit
from clean_census_acs_data_spark.sources.fake_census import fake_census_fetcher, fake_zcta_fetcher


@pytest.fixture(scope="module")
def pipeline_result(spark, tmp_path_factory):
    audit = str(tmp_path_factory.mktemp("audit") / "usage")
    clean, dead = run_census_pipeline(
        spark, table_name="dp02", fetcher=fake_census_fetcher, audit_path=audit
    )
    return clean.cache(), dead.cache(), audit


def test_dead_letter_quarantine(pipeline_result):
    clean, dead, _ = pipeline_result
    dl = dead.collect()
    # exactly one chunk contains state 04
    assert len(dl) == 1
    assert dl[0]["status"] == 500
    assert dl[0]["attempts"] == 5  # exhausted retries (reference: 5 attempts)
    assert "05" in dl[0]["state_chunk"]


def test_audit_logs_failures_too(pipeline_result):
    clean, dead, audit_path = pipeline_result
    spark = clean.sparkSession
    audit = read_audit(spark, audit_path)
    # one audit row per request, INCLUDING the failed chunk
    assert audit.count() == 17
    # only x-ratelimit* headers kept (prefix filter, Test_census_tract.py:92)
    hdrs = [json.loads(r["headers"]) for r in audit.collect()]
    assert all(set(map(str.lower, h)) <= {"x-ratelimit-remaining"} for h in hdrs)
    # params recorded without the api key
    params = [json.loads(r["params"]) for r in audit.collect()]
    assert all("key" not in p and "get" in p for p in params)


def test_schema_alignment_and_mapping(pipeline_result):
    clean, _, _ = pipeline_result
    cols = clean.columns
    # mapped labels present, expected-first ordering, geo extras after
    assert cols[0] == "TABLE_NAME"
    assert cols[1] == "NAME"
    assert "Less than High School" in cols
    assert "Bachelor's Degree or Greater" in cols
    # unmapped extra column passes through un-renamed (identity fallback)
    assert "DPXX_9999E" in cols
    # geography tagging: state_fips = the chunk string (reference :169)
    assert "STATE_FIPS" in cols


def test_null_fill_and_cast_clean(pipeline_result):
    clean, _, _ = pipeline_result
    # chunk with state 01 was missing the LAST requested variable
    # ("Bachelor's Degree or Greater" = DP02_0068E) → NULL-filled
    missing = clean.where(F.col("STATE") == "01").select("Bachelor's Degree or Greater")
    assert all(r[0] is None for r in missing.collect())
    # blanks and sentinels → NULL after cast_clean; measures are longs
    some = clean.where(F.col("STATE") == "02").collect()
    schema = {f.name: f.dataType.simpleString() for f in clean.schema.fields}
    assert schema["Less than High School"] == "bigint"
    tract1 = [r for r in some if r["TRACT"] == "000001"]
    assert tract1[0]["Less than High School"] is None  # was blank "" (idx 1)
    assert tract1[0]["Some High School"] is None  # was sentinel -888888888 (idx 2)


def test_empty_response_contributes_no_rows(pipeline_result):
    clean, _, _ = pipeline_result
    assert clean.where(F.col("STATE") == "09").count() == 0


def test_measure_values_roundtrip(pipeline_result):
    clean, _, _ = pipeline_result
    # state 02, tract 0: value = int(state)*100 + var_index
    r = clean.where((F.col("STATE") == "02") & (F.col("TRACT") == "000000")).collect()[0]
    assert r["Less than High School"] == 2 * 100 + 1  # DP02_0060E is get_vars[1]


def test_warehouse_layout_write(pipeline_result, tmp_path):
    clean, _, _ = pipeline_result
    out = str(tmp_path / "dp02")
    write_warehouse_layout(clean, out, num_files=4)
    spark = clean.sparkSession
    back = spark.read.parquet(out)
    assert back.count() == clean.count()
    assert set(back.columns) == set(clean.columns)


def test_request_specs_shape(spark):
    specs = C.request_specs(spark).cache()
    # 4 datasets × ceil(51/3)=17 chunks = 68 (reference request universe)
    assert specs.count() == 68
    assert specs.select("table_name").distinct().count() == 4
    chunks = specs.where("table_name = 'dp02'").select("state_chunk").collect()
    assert len(chunks) == 17
    all_states = sorted(",".join(r[0] for r in chunks).split(","))
    assert all_states == sorted(C.STATE_FIPS)


def test_preflight_drops_retired_variable(spark, tmp_path):
    """A variable retired from the vintage (absent from variables.json)
    must be dropped from the request — never fetched, never
    dead-lettered — and surfaced as a diagnostic; the output schema
    still carries its label as a NULL column (reindex semantics)."""
    from clean_census_acs_data_spark.sources.fake_census import (
        RETIRED_VARIABLE,
        fake_metadata_fetcher,
    )

    audit = str(tmp_path / "usage")
    clean, dead = run_census_pipeline(
        spark, table_name="dp02", fetcher=fake_metadata_fetcher,
        audit_path=audit, preflight=True,
    )
    # the retired variable never appears in any request's get= param
    params = [json.loads(r["params"]) for r in read_audit(spark, audit).collect()]
    assert all(RETIRED_VARIABLE not in p["get"] for p in params)
    # diagnostic recorded
    diag = spark.read.parquet(audit + "_preflight").collect()
    assert [(r.table_name, r.variable, r.reason) for r in diag] == [
        ("dp02", RETIRED_VARIABLE, "variable_unavailable")
    ]
    # no new dead letters beyond the always-failing state-05 chunk
    assert dead.count() == 1
    # reindex semantics: the retired variable's label is a NULL column
    mapping = C.load_mapping_dict(spark)
    label = mapping[RETIRED_VARIABLE]
    assert label in clean.columns
    assert clean.where(F.col(label).isNotNull()).count() == 0


def test_preflight_datasets_caches_per_path(spark):
    """dp02/dp03/dp05 share one dataset path: the metadata endpoint must
    be hit once per distinct path, not once per logical table."""
    calls = []

    def counting_fetcher(url, params):
        calls.append(url)
        from clean_census_acs_data_spark.sources.fake_census import fake_metadata_fetcher
        return fake_metadata_fetcher(url, params)

    filtered, dropped = C.preflight_datasets(counting_fetcher, year=2023)
    assert len(calls) == 2  # acs/acs5/profile + acs/acs5/subject
    assert ("dp02", "DP02_0068E") in dropped
    assert "DP02_0068E" not in filtered["dp02"]["variables"]
    # untouched datasets keep their full lists
    assert filtered["s0101"]["variables"] == C.DATASETS["s0101"]["variables"]


def test_observation_metrics_without_recompute(spark):
    """Observability at scale: df.observe() collects row counts /
    integral sums as a side effect of the ONE action that materializes
    the pipeline — no second pass over the data (a .count() after the
    write would rescan everything at 100 TB)."""
    from pyspark.sql import Observation

    clean, _dead = run_census_pipeline(
        spark, table_name="dp02", fetcher=fake_census_fetcher
    )
    obs = Observation("census_metrics")
    observed = clean.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.col("TABLE_NAME")).alias("n_tagged"),
    )
    n_action = observed.count()  # the single materializing action
    metrics = obs.get
    assert metrics["n_rows"] == n_action
    assert metrics["n_tagged"] == n_action


# --------------------------------------------------------------------------
# request specs and the fetch layer
# --------------------------------------------------------------------------

# (chunk_id, state_chunk) of the window/groupBy build request_specs used
# to run in Spark (row_number over the sorted FIPS codes, floor(rank /
# chunk_size), collect_list per chunk); the driver-built rows must match.
_CHUNKS = {
    3: [
        (0, "01,02,04"), (1, "05,06,08"), (2, "09,10,11"), (3, "12,13,15"),
        (4, "16,17,18"), (5, "19,20,21"), (6, "22,23,24"), (7, "25,26,27"),
        (8, "28,29,30"), (9, "31,32,33"), (10, "34,35,36"), (11, "37,38,39"),
        (12, "40,41,42"), (13, "44,45,46"), (14, "47,48,49"), (15, "50,51,53"),
        (16, "54,55,56"),
    ],
    5: [
        (0, "01,02,04,05,06"), (1, "08,09,10,11,12"), (2, "13,15,16,17,18"),
        (3, "19,20,21,22,23"), (4, "24,25,26,27,28"), (5, "29,30,31,32,33"),
        (6, "34,35,36,37,38"), (7, "39,40,41,42,44"), (8, "45,46,47,48,49"),
        (9, "50,51,53,54,55"), (10, "56"),
    ],
}


def _jobs_in_group(spark, group: str, action) -> list[int]:
    """Run ``action`` under a job group; return the group's job ids."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("chunk_size", [3, 5])
def test_request_specs_pinned_and_jobless(spark, chunk_size):
    specs = []
    jobs = _jobs_in_group(
        spark,
        f"request_specs_{chunk_size}",
        lambda: specs.append(C.request_specs(spark, chunk_size=chunk_size)),
    )
    assert jobs == []  # built on the driver: no Spark job
    got = sorted(tuple(r) for r in specs[0].select("table_name", "chunk_id", "state_chunk").collect())
    assert got == sorted((t, i, c) for t in C.DATASETS for i, c in _CHUNKS[chunk_size])
    assert specs[0].schema.simpleString() == (
        "struct<table_name:string,dataset:string,year:int,get_vars:string,"
        "chunk_id:bigint,state_chunk:string>"
    )


def _logging_fetcher(
    log_path: str, *, latency_s: float = 0.05, truncate: dict | None = None, fake=fake_census_fetcher
):
    """The fake census API (``fake``) behind a fixed latency. Every call appends
    ``state_chunk, partition, start, end`` to ``log_path`` with one
    write() on an O_APPEND descriptor, so lines from concurrent threads
    and workers never interleave. ``truncate`` maps a state code to the
    number of first attempts whose 200 body is cut in half (for every
    chunk that contains it). A nested function, so Spark pickles it by
    value."""
    import os
    import time

    truncate = truncate or {}
    attempts: dict[str, int] = {}  # per task: one task owns each request

    def fetch(url, params):
        from pyspark import TaskContext

        start = time.time()
        time.sleep(latency_s)
        status, headers, body = fake(url, params)
        chunk = params.get("in", "").removeprefix("state:")
        attempts[chunk] = attempts.get(chunk, 0) + 1
        if any(st in chunk.split(",") and attempts[chunk] <= n for st, n in truncate.items()):
            body = body[: len(body) // 2]
        line = f"{chunk}\t{TaskContext.get().partitionId()}\t{start:.6f}\t{time.time():.6f}\n"
        fd = os.open(log_path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
        try:
            os.write(fd, line.encode())
        finally:
            os.close(fd)
        return status, headers, body

    return fetch


def _read_fetch_log(path) -> list[tuple[str, int, float, float]]:
    if not path.exists():
        return []
    rows = [ln.split("\t") for ln in path.read_text().splitlines()]
    return [(c, int(p), float(s), float(e)) for c, p, s, e in rows]


def _dp02_specs(spark):
    return C.request_specs(spark, datasets={"dp02": C.DATASETS["dp02"]})


def test_fetch_is_one_job_of_overlapping_requests(spark, tmp_path):
    from clean_census_acs_data_spark.sources import rest as R

    log = tmp_path / "fetch.log"
    fetcher = _logging_fetcher(str(log))
    specs = _dp02_specs(spark)
    jobs = _jobs_in_group(
        spark,
        "fetch_one_job",
        lambda: R.fetch_responses(specs, fetcher=fetcher, backoff_base_s=0.001)
        .localCheckpoint(eager=True),
    )
    sc = spark.sparkContext
    assert len(jobs) == 1
    tasks = sum(
        sc.statusTracker().getStageInfo(s).numTasks
        for s in sc.statusTracker().getJobInfo(jobs[0]).stageIds
    )
    assert tasks <= min(17, sc.defaultParallelism)
    calls = _read_fetch_log(log)
    assert len(calls) == 17 + 4  # the state-05 chunk fails all 5 attempts
    assert _peak_inflight(calls) > 1
    if tasks < 17:
        # fewer tasks than requests: the overlap comes from each task's
        # thread pool, not only from tasks running side by side
        assert max(_peak_inflight([c for c in calls if c[1] == p]) for p in range(tasks)) > 1


def _peak_inflight(calls) -> int:
    """Sweep the calls' start/end events for the peak number in flight."""
    events = sorted([(s, 1) for _, _, s, _ in calls] + [(e, -1) for _, _, _, e in calls])
    inflight = peak = 0
    for _, d in events:
        inflight += d
        peak = max(peak, inflight)
    return peak


def test_fetch_token_bucket_spaces_starts_within_a_task(spark, tmp_path):
    from clean_census_acs_data_spark.sources import rest as R

    log = tmp_path / "fetch.log"
    interval = 0.5
    specs = _dp02_specs(spark).where("state_chunk NOT LIKE '%05%'")
    R.fetch_responses(
        specs, fetcher=_logging_fetcher(str(log), latency_s=0.01), min_interval_s=interval
    ).localCheckpoint(eager=True)
    starts: dict[int, list[float]] = {}
    for _, part, s, _ in _read_fetch_log(log):
        starts.setdefault(part, []).append(s)
    assert sum(map(len, starts.values())) == 16
    for part, ts in starts.items():
        ts.sort()
        gaps = [b - a for a, b in zip(ts, ts[1:])]
        # slack for a thread waking late from its reserved slot
        assert all(g >= interval - 0.1 for g in gaps), (part, gaps)


def test_truncated_body_is_retried_then_dead_lettered(spark, tmp_path):
    from clean_census_acs_data_spark.sources import rest as R

    log = tmp_path / "fetch.log"
    # the 01,02,04 chunk is truncated on its first attempt only, the
    # 16,17,18 chunk on every attempt
    fetcher = _logging_fetcher(str(log), latency_s=0.0, truncate={"02": 1, "16": 99})
    specs = _dp02_specs(spark).where("state_chunk IN ('01,02,04', '16,17,18')")
    responses = R.fetch_responses(
        specs, fetcher=fetcher, max_attempts=3, backoff_base_s=0.001
    ).localCheckpoint(eager=True)
    by_chunk = {r["state_chunk"]: r for r in responses.collect()}
    retried = by_chunk["01,02,04"]
    assert (retried["status"], retried["attempts"], retried["error"]) == (200, 2, None)
    assert isinstance(json.loads(retried["body"]), list)
    broken = by_chunk["16,17,18"]
    assert (broken["status"], broken["attempts"], broken["error"]) == (
        R.MALFORMED_STATUS, 3, R.MALFORMED_ERROR,
    )
    assert broken["body"] is None
    ok, dead = R.split_dead_letters(responses)
    assert [r["state_chunk"] for r in dead.collect()] == ["16,17,18"]
    decoded = R.decode_wire(ok, ["NAME"] + C.DATASETS["dp02"]["variables"], R.observed_headers(ok))
    assert decoded.count() == 3 * 2  # the retried chunk: 3 states x 2 tracts
    attempts: dict[str, int] = {}
    for chunk, *_ in _read_fetch_log(log):
        attempts[chunk] = attempts.get(chunk, 0) + 1
    assert attempts == {"01,02,04": 2, "16,17,18": 3}


@pytest.mark.parametrize(
    "run, fake, calls",
    [(run_census_pipeline, fake_census_fetcher, 17 + 4), (run_zcta_pipeline, fake_zcta_fetcher, 1)],
    ids=["tract", "zcta"],
)
def test_teardown_releases_the_response_memo(spark, tmp_path, run, fake, calls):
    from clean_census_acs_data_spark import session as S

    log = tmp_path / "fetch.log"
    fetcher = _logging_fetcher(str(log), latency_s=0.0, fake=fake)
    run(spark, table_name="dp02", fetcher=fetcher)
    first = len(_read_fetch_log(log))
    assert first == calls
    run(spark, table_name="dp02", fetcher=fetcher)
    assert len(_read_fetch_log(log)) == first  # memo hit: no new calls
    S.teardown_shared_memos()
    run(spark, table_name="dp02", fetcher=fetcher)
    assert len(_read_fetch_log(log)) == 2 * first  # fetched again


def test_retry_does_not_back_off_after_the_last_attempt(monkeypatch):
    """Backoff is taken between attempts only: three failed attempts
    sleep twice, with nothing after the last one."""
    from clean_census_acs_data_spark.sources import rest as R

    slept: list[float] = []
    monkeypatch.setattr(R.time, "sleep", slept.append)
    status, _headers, _body, err, attempts = R._get_with_retry(
        lambda url, params: (500, {}, "boom"), "u", {}, max_attempts=3, backoff_base_s=0.01,
    )
    assert (status, err, attempts) == (500, "boom", 3)
    assert slept == [0.01, 0.02]
