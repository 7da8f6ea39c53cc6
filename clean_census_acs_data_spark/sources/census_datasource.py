"""Census REST connector as a PySpark Python Data Source (Spark 4 API).

The mapInPandas fetcher (sources/rest.py) is the quick path; this is
the *proper connector* SURVEY.md §4 defers to polish: a DataSource
whose ``partitions()`` IS the reference's request batching
(Test_census_tract.py:327-342 — 51 states / chunk_size chunks), so
Spark schedules one task per chunk and the fetches run concurrently
across executors instead of serially on the driver.

Pushdown story (SURVEY.md §2A rows 16-18): projection and geography
predicates are *parameters* of the source (get=/for=/in=), exactly how
the reference pushes them — the connector builds each partition's
query string from its options, so only requested columns and states
ever cross the wire.

Wire semantics preserved:
- JSON array-of-arrays, row 0 = header, all cells strings
  (Test_census_tract.py:167-168) — decoded per-partition.
- requested-but-missing columns → NULL (NULL-fill alignment, :171-172);
  unexpected extra columns are dropped (schema is fixed at plan time —
  the DSv2 contract; the reference instead appends them, which a fixed
  schema cannot express: documented divergence).
- per-state tagging via state_fips (:169).
- the same connector as sources/rest.py in its retry and dead-letter
  policy: each partition's request goes through rest's one retry loop
  (exponential capped backoff on non-2xx and transport errors,
  :138-142; a 2xx whose body is not a JSON array is retried, then
  treated as HTTP 502; a 204 is a valid empty result). A request that
  still fails follows the fail-or-skip policy per partition, replacing
  the chunk→state fallback (:364-390).

The fetch function is injectable via the string option
``fetcher`` = "module:callable" so tests run the deterministic offline
fake (fake_census.py) with zero network.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
)
from pyspark.sql.types import StringType, StructField, StructType

from clean_census_acs_data_spark.sources import census as C
from clean_census_acs_data_spark.sources import rest as R

GEO_COLS = ("state", "county", "tract")


def _resolve_fetcher(spec: str):
    import importlib

    mod, _, fn = spec.partition(":")
    return getattr(importlib.import_module(mod), fn)


class CensusChunkPartition(InputPartition):
    def __init__(self, states: list[str]):
        self.states = states


class CensusRestReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema_fields = [f.name for f in schema.fields]
        self.year = int(options.get("year", "2023"))
        self.dataset = options.get("dataset", "acs/acs5/profile")
        self.get_vars = options["get_vars"].split(",")
        states = options.get("states")
        self.states = states.split(",") if states else C.STATE_FIPS
        self.chunk_size = int(options.get("chunk_size", "3"))
        self.fetcher_spec = options.get(
            "fetcher", "clean_census_acs_data_spark.sources.rest:default_urllib_fetcher"
        )
        self.base_url = options.get("base_url", "https://api.census.gov/data")
        self.api_key = options.get("api_key")
        self.max_attempts = int(options.get("max_attempts", "5"))
        self.backoff_base_s = float(options.get("backoff_base_s", "0.01"))
        self.on_error = options.get("on_error", "fail")  # fail | skip

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Real source pushdown (SURVEY.md §2A rows 16-17): equality/IN
        predicates on ``state_fips``/``state`` shrink the request
        universe itself — pruned states are never fetched, the REST
        analog of parquet partition pruning. Everything else is
        returned for Spark to evaluate post-scan. Accepted filters are
        still re-applied by Spark (returning only *unsupported* ones is
        an optimization contract, but re-evaluation is free here)."""
        for f in filters:
            if (
                isinstance(f, (EqualTo, In))
                and f.attribute in (("state_fips",), ("state",))
            ):
                wanted = {f.value} if isinstance(f, EqualTo) else set(f.value)
                self.states = [s for s in self.states if s in wanted]
            else:
                yield f

    def partitions(self) -> list[CensusChunkPartition]:
        # the reference's chunk_list(states, 3) → 17 chunks, but as
        # Spark input partitions scheduled concurrently (SURVEY.md §4
        # "scan parallelism": the single biggest speedup available).
        # Called after pushFilters, so a pruned state universe yields
        # fewer fetch tasks.
        return [CensusChunkPartition(c) for c in C._chunks(self.states, self.chunk_size)]

    def read(self, partition: CensusChunkPartition) -> Iterator[tuple]:
        fetcher = _resolve_fetcher(self.fetcher_spec)
        url = R.build_census_url(self.year, self.dataset, base=self.base_url)
        params = {
            "get": ",".join(self.get_vars),
            "for": "tract:*",
            "in": "state:" + ",".join(partition.states),
        }
        if self.api_key:
            params["key"] = self.api_key
        status, _headers, body, _err, _attempts = R._get_with_retry(
            fetcher, url, params,
            max_attempts=self.max_attempts, backoff_base_s=self.backoff_base_s,
        )
        if not (200 <= status < 300):
            if self.on_error == "skip":
                return  # dead-letter policy: drop the partition, keep the scan
            raise RuntimeError(
                f"census fetch failed for states {partition.states}: HTTP {status}"
            )
        if status == 204:
            return  # No Content: an empty result, not an error
        data = json.loads(body)
        header, rows = data[0], data[1:]
        idx = {name: i for i, name in enumerate(header)}
        # row 0 = header; missing requested columns → None (NULL-fill
        # alignment); extras not in the plan-time schema are dropped
        for row in rows:
            state = row[idx["state"]] if "state" in idx else None
            out = []
            for name in self.schema_fields:
                if name == "state_fips":
                    out.append(state)
                else:
                    i = idx.get(name)
                    out.append(row[i] if i is not None else None)
            yield tuple(out)


class CensusRestDataSource(DataSource):
    """spark.read.format("census_rest")
    .option("year", 2023).option("dataset", "acs/acs5/profile")
    .option("get_vars", "NAME,DP02_0060E,...").load()"""

    @classmethod
    def name(cls) -> str:
        return "census_rest"

    def schema(self) -> StructType:
        # all-string tier, faithful to the wire (SURVEY.md §1.2);
        # typed casting is the cast_clean transform downstream
        vars_ = self.options["get_vars"].split(",")
        cols = list(dict.fromkeys(vars_))  # ordered dedup (reference row 13)
        return StructType(
            [StructField(c, StringType()) for c in cols]
            + [StructField(g, StringType()) for g in GEO_COLS]
            + [StructField("state_fips", StringType())]
        )

    def reader(self, schema: StructType) -> CensusRestReader:
        return CensusRestReader(schema, dict(self.options))


def register_census_datasource(spark) -> None:
    # active-session-pinned + idempotent: see
    # session.register_python_datasource for the clone-routing bug
    from clean_census_acs_data_spark.session import register_python_datasource

    register_python_datasource(spark, CensusRestDataSource)
