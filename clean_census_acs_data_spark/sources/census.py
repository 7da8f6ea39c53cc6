"""Census ACS dataset catalog + request-universe builder.

Re-expresses the reference's hard-coded config as data:

- dataset → (endpoint dataset path, variable list): the four logical
  tables dp02/dp03/dp05/s0101 (Test_census_tract.py:287-313;
  test_final_zcta.py:160-186 — identical variable lists).
- state FIPS universe: range(1,57) minus {3,7,14,43,52}
  (Test_census_tract.py:327), zero-padded to 2 digits.
- chunking: 3 states per request (chunk_list, Test_census_tract.py:
  329-331) — but expressed as a DataFrame of request specs so the
  fetch layer can run every chunk concurrently on executors instead of
  the reference's serial driver loop (SURVEY.md §4 "the single biggest
  speedup").
- the 62-row code→label mapping, checked in as a CSV fixture
  (converted once from `Census Data Fields for API.xlsx` Sheet1 —
  no runtime xlsx dependency, SURVEY.md §7 Phase 0).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
MAPPING_CSV = os.path.join(FIXTURE_DIR, "census_field_mapping.csv")

# Test_census_tract.py:287-313 — variable lists per logical table.
DATASETS: dict[str, dict] = {
    "dp02": {
        "dataset": "acs/acs5/profile",
        "variables": [f"DP02_00{i}E" for i in range(60, 65)] + ["DP02_0068E"],
    },
    "dp03": {
        "dataset": "acs/acs5/profile",
        "variables": [f"DP03_00{i}E" for i in range(52, 63)] + ["DP03_0097PE", "DP03_0009PE"],
    },
    "dp05": {
        "dataset": "acs/acs5/profile",
        "variables": ["DP05_0076E"] + [f"DP05_00{i}E" for i in range(82, 89)],
    },
    "s0101": {
        "dataset": "acs/acs5/subject",
        "variables": [f"S0101_C01_0{i:02d}E" for i in range(1, 33)]
        + ["S0101_C03_001E", "S0101_C05_001E", "S0101_C05_024E"],
    },
}

# Test_census_tract.py:327 — the 51-code state FIPS universe.
EXCLUDED_FIPS = {3, 7, 14, 43, 52}
STATE_FIPS = [f"{i:02d}" for i in range(1, 57) if i not in EXCLUDED_FIPS]


def load_mapping_df(spark: SparkSession) -> DataFrame:
    """The code→label mapping as a (broadcastable) DataFrame."""
    return spark.read.option("header", True).csv(MAPPING_CSV)


def load_mapping_dict(spark: SparkSession) -> dict[str, str]:
    """Driver-side dict form with key cleanup (Test_census_tract.py:
    47-54) and loud collision detection (SURVEY.md §7 risk register).

    Reads the 62-row fixture with the stdlib csv module: this is
    driver-side config metadata (the reference reads it with
    pd.read_excel on the driver too) — a Spark job + collect for it
    was one avoidable job per pipeline invocation. ``spark`` is kept
    in the signature for call-site compatibility;
    ``load_mapping_df`` remains the DataFrame/broadcast form."""
    import csv

    from clean_census_acs_data_spark.transforms import build_mapping

    with open(MAPPING_CSV, newline="") as f:
        return build_mapping(
            [(r["api_code"], r["label"]) for r in csv.DictReader(f)]
        )


def _fetch_available_vars(
    fetcher, *, year: int, dataset: str, base_url: str
) -> set[str]:
    import json as _json

    meta_url = f"{base_url}/{year}/{dataset}/variables.json"
    status, _hdrs, body = fetcher(meta_url, {})
    if not (200 <= status < 300):
        raise RuntimeError(
            f"variables.json pre-flight failed: HTTP {status} for {meta_url}"
        )
    return set(_json.loads(body).get("variables", {}).keys())


def preflight_datasets(
    fetcher,
    *,
    year: int,
    datasets: dict[str, dict] | None = None,
    base_url: str = "https://api.census.gov/data",
) -> tuple[dict[str, dict], list[tuple[str, str]]]:
    """Apply the variables.json pre-flight across a catalog. Returns
    (filtered catalog, [(table_name, dropped_variable), ...]). The
    metadata response is fetched once per *distinct* dataset path
    (dp02/dp03/dp05 share acs/acs5/profile → one call, not three)."""
    datasets = datasets or DATASETS
    meta_cache: dict[str, set] = {}
    filtered: dict[str, dict] = {}
    dropped_all: list[tuple[str, str]] = []
    for name, cfg in datasets.items():
        path = cfg["dataset"]
        if path not in meta_cache:
            meta_cache[path] = _fetch_available_vars(
                fetcher, year=year, dataset=path, base_url=base_url
            )
        available = meta_cache[path]
        keep = [v for v in cfg["variables"] if v in available]
        dropped_all.extend((name, v) for v in cfg["variables"] if v not in available)
        filtered[name] = {**cfg, "variables": keep}
    return filtered, dropped_all


def request_specs(
    spark: SparkSession,
    *,
    year: int = 2023,
    chunk_size: int = 3,
    datasets: dict[str, dict] | None = None,
) -> DataFrame:
    """The request universe as a DataFrame: one row per (logical table,
    state chunk) — the reference's 4×17=68 serial calls become 68
    rows of parallel fetch work. Columns: table_name, dataset, year,
    get_vars (csv), chunk_id, state_chunk (csv).

    The rows are config, not data (tables × ceil(51 / chunk_size)), so
    they are built on the driver: row 45's chunk_list over the sorted
    FIPS codes, chunk_id = position // chunk_size. Building the frame
    runs no Spark job."""
    chunks = [",".join(c) for c in _chunks(STATE_FIPS, chunk_size)]
    return _spec_frame(spark, datasets or DATASETS, year, chunks)


def zcta_request_specs(
    spark: SparkSession,
    *,
    year: int = 2017,
    datasets: dict[str, dict] | None = None,
) -> DataFrame:
    """The ZCTA request universe: ONE single-shot request per dataset
    (test_final_zcta.py:191-193 — all ZCTAs at once, no chunking), i.e.
    one chunk with an empty state list."""
    return _spec_frame(spark, datasets or DATASETS, year, [""])


def _chunks(seq: Sequence[str], n: int) -> list[list[str]]:
    """chunk_list(seq, n) (Test_census_tract.py:329-331): consecutive
    runs of ``n``, the last one shorter."""
    return [list(seq[i : i + n]) for i in range(0, len(seq), n)]


def _spec_frame(
    spark: SparkSession, datasets: dict[str, dict], year: int, chunks: list[str]
) -> DataFrame:
    """One spec row per (table, state chunk), built on the driver."""
    return spark.createDataFrame(
        [
            (name, cfg["dataset"], year, _get_vars(cfg), chunk_id, chunk)
            for name, cfg in datasets.items()
            for chunk_id, chunk in enumerate(chunks)
        ],
        "table_name string, dataset string, year int, get_vars string, "
        "chunk_id bigint, state_chunk string",
    )


def _get_vars(cfg: dict) -> str:
    return ",".join(["NAME"] + list(dict.fromkeys(cfg["variables"])))
