"""Distributed REST source: request-spec DataFrame → mapInPandas fetch.

The reference fetches 68 (dataset, state-chunk) slices serially on the
driver with a 10 s sleep each (Test_census_tract.py:342-344 — a ≥680 s
floor). Here one table's specs are fetched by ONE Spark job: the spec
frame is narrowed (no shuffle) to at most ``defaultParallelism`` tasks,
and each task runs its requests on a thread pool, so ``num_partitions``
requests are in flight at once across the job (SURVEY.md §4 "scan
parallelism"). A request is network wait, not CPU, so threads overlap
it without paying a Spark job or a Python task per request. Each task
has one token bucket shared by its threads, so the aggregate request
rate stays at or below tasks ÷ ``min_interval_s``.

Semantics preserved from the reference:

- keyed GET with timeout (census_get, Test_census_tract.py:109-120)
- audit every attempt BEFORE the status check — failed calls are
  logged too (:118-119; SURVEY.md §3.3 calls this out as a semantic
  detail); audit rows carry only x-ratelimit* response headers (:92)
- retry with exponential backoff on HTTP errors only (tenacity
  @retry, :138-142) — re-implemented in-connector (stdlib only);
  task-level spark.task.maxFailures is too coarse for a 429
- permanent failures become dead-letter rows instead of the
  reference's chunk→state fallback dance (:364-390): fetch at the
  finest granularity you can and quarantine what still fails
  (SURVEY.md §4 "design away")

Beyond the reference: a 2xx whose body is not a JSON array (a body cut
short in transit) is retried like an HTTP error, and once the retries
are spent it is dead-lettered with status 502 and error
``malformed body`` — it never decodes to zero rows. A 204 No Content
(the API's answer for an empty result) stays a valid empty response.

The per-request retry loop (``_get_with_retry``) is the only one in
``sources/``: the ``census_rest`` DataSource reader
(sources/census_datasource.py) calls it too, so both connectors share
one retry, malformed-body and dead-letter policy.

Decode costs no Spark job. :func:`observed_headers` collects one
header row per response, and a caller that checkpoints the fetch
output lazily (``localCheckpoint(eager=False)``) and runs it first
pays for the fetch, the checkpoint and the schema discovery with that
one job (plans/census_pipeline.py does). :func:`decode_wire` then turns
the bodies into rows positionally: each output name's position in a
response's header is looked up once per response, below the explode,
and each cell is an array read, not a per-row map build.

The fetch function is injectable (``fetcher=``) so tests run a
deterministic fake with no network; the default uses stdlib urllib
(executors may not have `requests`).
"""

from __future__ import annotations

import json
import threading
import time
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType, StringType, IntegerType

from clean_census_acs_data_spark.functions import sql_ident, sql_literal

# (status, headers, body_text) — body is the raw JSON array-of-arrays text
FetchFn = Callable[[str, dict[str, str]], tuple[int, dict[str, str], str]]

# A 2xx whose body never parsed as a JSON array, after every retry: the
# upstream answered, but not with a usable response ("bad gateway").
MALFORMED_STATUS = 502
MALFORMED_ERROR = "malformed body"

# the wire format: row 0 the header, rows 1.. data, every cell a string
WIRE_TYPE = "array<array<string>>"
# geography columns kept from a response header when present
GEO_COLS = ("state", "county", "tract", "zip code tabulation area")

RESPONSE_SCHEMA = StructType(
    [
        StructField("table_name", StringType()),
        StructField("dataset", StringType()),
        StructField("year", IntegerType()),
        StructField("state_chunk", StringType()),
        StructField("url", StringType()),
        StructField("status", IntegerType()),
        StructField("attempts", IntegerType()),
        StructField("body", StringType()),
        StructField("error", StringType()),
        StructField("audit_timestamp", StringType()),
        StructField("audit_headers", StringType()),
        StructField("audit_params", StringType()),
    ]
)


def default_urllib_fetcher(url: str, params: dict[str, str]) -> tuple[int, dict[str, str], str]:
    """stdlib GET with the reference's 60 s timeout
    (Test_census_tract.py:117)."""
    import urllib.error
    import urllib.parse
    import urllib.request

    full = url + "?" + urllib.parse.urlencode(params)
    try:
        with urllib.request.urlopen(full, timeout=60) as resp:  # noqa: S310
            return resp.status, dict(resp.headers.items()), resp.read().decode("utf-8")
    except urllib.error.HTTPError as e:
        return e.code, dict(e.headers.items()), e.read().decode("utf-8", "replace")[:200]


def build_census_url(year: int, dataset: str, *, base: str = "https://api.census.gov/data") -> str:
    return f"{base}/{year}/{dataset}"


def fetch_responses(
    specs: DataFrame,
    *,
    fetcher: FetchFn | None = None,
    api_key: str | None = None,
    geo_for: str = "tract:*",
    geo_in_states: bool = True,
    max_attempts: int = 5,
    backoff_base_s: float = 0.01,
    backoff_cap_s: float = 60.0,
    min_interval_s: float = 0.0,
    base_url: str = "https://api.census.gov/data",
    num_partitions: int | None = None,
) -> DataFrame:
    """Execute every request spec on executors; one output row per spec
    with status/body/audit columns (audit recorded for every attempt's
    final state, success or not).

    ``num_partitions`` (default 17, the reference's chunks per dataset)
    is the number of requests in flight across the job. The specs are
    coalesced, without a shuffle, to ``min(num_partitions,
    defaultParallelism)`` tasks, and each task runs its share of the
    in-flight requests on a thread pool. ``min_interval_s`` is a token
    bucket per task, shared by that task's threads: with T tasks the
    aggregate rate is ≤ T/interval, the knob that reproduces (or
    relaxes) the reference's 10 s throttle.
    """
    fetcher = fetcher or default_urllib_fetcher
    width = num_partitions or 17  # the reference's 17 chunks/dataset
    n_tasks = min(width, specs.sparkSession.sparkContext.defaultParallelism)

    def fetch_one(row, take_slot) -> dict:
        url = build_census_url(int(row.year), row.dataset, base=base_url)
        params = {"get": row.get_vars, "for": geo_for}
        if geo_in_states:
            # tract queries scope by state (Test_census_tract.py:
            # 162-164); ZCTA queries fetch all at once with no
            # `in=` clause (test_final_zcta.py:97-101)
            params["in"] = f"state:{row.state_chunk}"
        if api_key:
            params["key"] = api_key  # census_get key injection (:115-116)
        status, headers, body, err, attempts = _get_with_retry(
            fetcher, url, params, max_attempts=max_attempts,
            backoff_base_s=backoff_base_s, backoff_cap_s=backoff_cap_s, take_slot=take_slot,
        )
        # audit-before-status-check ordering (:118-119): record the
        # attempt outcome whether or not it succeeded
        ratelimit = {
            k: v for k, v in headers.items() if k.lower().startswith("x-ratelimit")
        }  # header prefix filter (:92)
        return {
            "table_name": row.table_name,
            "dataset": row.dataset,
            "year": int(row.year),
            "state_chunk": row.state_chunk,
            "url": url,
            "status": status,
            "attempts": attempts,
            "body": body if 200 <= status < 300 else None,
            "error": err,
            "audit_timestamp": datetime.now(timezone.utc).isoformat(),
            "audit_headers": json.dumps(ratelimit, ensure_ascii=False),
            "audit_params": json.dumps(
                {k: v for k, v in params.items() if k != "key"},
                ensure_ascii=False,
            ),
        }

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = [row for pdf in batches for row in pdf.itertuples(index=False)]
        if not rows:
            return
        # this task's share of the in-flight width (n_tasks <= width, so
        # every share is >= 1); the n_tasks shares sum to exactly `width`
        pid = TaskContext.get().partitionId()
        threads = min(len(rows), width // n_tasks + (pid < width % n_tasks))
        lock = threading.Lock()
        next_slot = 0.0

        def take_slot() -> None:
            # reserve the next start slot under the lock, sleep outside it
            nonlocal next_slot
            if min_interval_s <= 0:
                return
            with lock:
                now = time.monotonic()
                slot = max(now, next_slot)
                next_slot = slot + min_interval_s
            if slot > now:
                time.sleep(slot - now)

        with ThreadPoolExecutor(max_workers=threads) as pool:
            out = list(pool.map(lambda row: fetch_one(row, take_slot), rows))
        yield pd.DataFrame(out, columns=[f.name for f in RESPONSE_SCHEMA.fields])

    return specs.coalesce(n_tasks).mapInPandas(run, RESPONSE_SCHEMA)


def _get_with_retry(
    fetcher: FetchFn,
    url: str,
    params: dict[str, str],
    *,
    max_attempts: int,
    backoff_base_s: float,
    backoff_cap_s: float = 60.0,
    take_slot: Callable[[], None] | None = None,
) -> tuple[int, dict[str, str], str | None, str | None, int]:
    """One census request with retries: the loop behind both connectors
    (``fetch_responses`` and the ``census_rest`` DataSource reader).
    Returns (status, headers, body, error, attempts).

    A transport error counts as status -1 and is retried, as is any
    non-2xx (tenacity @retry analog, Test_census_tract.py:138-142). A
    2xx whose body is not a JSON array is retried with error
    ``malformed body`` and becomes ``MALFORMED_STATUS`` once the
    attempts are spent; a 204 is a valid empty response. Backoff is
    exponential, capped at ``backoff_cap_s`` and taken between attempts
    only; ``take_slot`` (the caller's token bucket) runs before every
    attempt."""
    status, headers, body, err = 0, {}, None, None
    for attempt in range(max_attempts):
        if take_slot is not None:
            take_slot()  # token bucket (reference row 44)
        try:
            status, headers, body = fetcher(url, params)
        except Exception as e:  # transport error → retryable
            status, headers, body, err = -1, {}, None, str(e)[:200]
        if 200 <= status < 300:
            if status == 204 or _is_json_array(body):
                return status, headers, body, None, attempt + 1
            err = MALFORMED_ERROR  # a 2xx cut short → retryable
        else:
            err = err or (body or "")[:200]  # resp.text[:200] (:368)
        if attempt + 1 < max_attempts:
            # exponential backoff, capped (tenacity analog, :138-142);
            # none after the last attempt, which nothing follows
            time.sleep(min(backoff_cap_s, backoff_base_s * (2**attempt)))
    if 200 <= status < 300:  # retries spent on malformed bodies
        status = MALFORMED_STATUS  # dead-letter it, never decode it
    return status, headers, body, err, max_attempts


def _is_json_array(body: str | None) -> bool:
    try:
        return isinstance(json.loads(body), list)
    except (TypeError, ValueError):
        return False


def split_dead_letters(responses: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(successes, dead_letters) — the quarantine-table replacement for
    the reference's per-state fallback loop (Test_census_tract.py:
    364-390)."""
    ok = responses.where("status >= 200 AND status < 300")
    dead = responses.where("status < 200 OR status >= 300")
    return ok, dead


def observed_headers(responses: DataFrame) -> tuple[str, ...]:
    """The header names of the 2xx responses that carry at least one
    data row, sorted: the decode's schema discovery (the reference's
    geo-column probe + extra-column passthrough, test_final_zcta.py:
    196-198 / Test_census_tract.py:174-175). One job that collects one
    header row per response; headers of data-less responses are left
    out, because they never produce a row."""
    ok, _ = split_dead_letters(responses)
    heads = ok.selectExpr(f"from_json(body, '{WIRE_TYPE}') AS arr").selectExpr(
        "IF(size(arr) >= 2, arr[0], NULL) AS hdr"
    )
    return tuple(sorted({n for (hdr,) in heads.collect() if hdr for n in hdr}))


def decode_wire(
    responses: DataFrame, expected_vars: list[str], observed: tuple[str, ...]
) -> DataFrame:
    """JSON array-of-arrays → tall frame of string cells (wire decode,
    reference row 5), entirely with JVM expressions and no Spark job:

    row 0 of each body is the header; rows 1.. are data; every cell a
    string. Output: one row per (response, data row) with
    ``table_name``, ``state_fips`` (the request's state chunk, row 9),
    ``expected_vars``, then the other ``observed`` header names (from
    :func:`observed_headers`) sorted, then the geography columns the
    responses carried. A header a response lacks decodes to NULL
    (NULL-fill alignment, rows 10, 23).

    The decode is positional. A projection below the explode parses
    each body once and looks up, once per response, each output name's
    position in its header; every cell is then ``get(row, pos - 1)``,
    which is NULL for a name the header lacks (position 0). The plan is
    SQL text, so building it costs a few py4j calls, not a few per
    column."""
    extras = sorted(set(observed) - set(expected_vars) - set(GEO_COLS))
    names = [*expected_vars, *extras, *(g for g in GEO_COLS if g in observed)]
    wanted = ", ".join(sql_literal(n) for n in names)
    # get(arr, 0), not arr[0]: under ANSI mode arr[0] of an empty body
    # ("[]") raises, get() reads NULL
    positioned = responses.selectExpr(
        "table_name", "state_chunk", f"from_json(body, '{WIRE_TYPE}') AS arr"
    ).selectExpr(
        "table_name",
        "state_chunk",
        "arr",
        f"transform(array({wanted}), n -> array_position(get(arr, 0), n)) AS pos",
    )
    # the explode's input is an expression, not a column: over a column
    # the optimizer infers a non-empty filter and pushes it below the
    # parse, which then runs once more per body
    rows = positioned.selectExpr(
        "table_name",
        "state_chunk",
        "pos",
        "explode(slice(arr, 2, greatest(size(arr) - 1, 0))) AS vals",
    )
    return rows.selectExpr(
        "table_name",
        "state_chunk AS state_fips",
        *(f"get(vals, pos[{i}] - 1) AS {sql_ident(n)}" for i, n in enumerate(names)),
    )
