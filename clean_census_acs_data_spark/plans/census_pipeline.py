"""End-to-end census ETL plan: the reference's main() re-expressed as a
composable Spark pipeline (SURVEY.md §3.1 → §3.4).

    request_specs (rows built on the driver)
      → fetch + header discovery (one Spark job: at most nproc
        mapInPandas tasks, concurrent requests inside each, filling a
        lazy localCheckpoint and collecting one header row per response)
      → dead-letter split
      → positional wire decode → normalize columns → mapping rename
        → align → cast_clean typed tier (one selectExpr, worked out as
        name arithmetic on the driver; no job)
      → union-by-name (implicit: decode emits one aligned frame)
      → layout write (the decode and typed tier run inside this job)

vs the reference: zero driver-side pandas concat (the 85k-tract
national frame never materializes on the driver), fetch parallelism
instead of serial sleep, dead-letter table instead of fallback loops,
and the Redshift DISTSTYLE/SORTKEY layout becomes
repartition + sortWithinPartitions before a parquet/CSV write
(Test_census_tract.py:231-237 → free row-group skipping on read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from clean_census_acs_data_spark.sources import census as C
from clean_census_acs_data_spark.sources import rest as R
from clean_census_acs_data_spark.sources.audit import append_audit
from clean_census_acs_data_spark import transforms as T
from clean_census_acs_data_spark.session import shared_memo


def run_census_pipeline(
    spark: SparkSession,
    *,
    table_name: str = "dp02",
    year: int = 2023,
    fetcher: R.FetchFn | None = None,
    audit_path: str | None = None,
    cast_measures: bool = True,
    chunk_size: int = 3,
    preflight: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Returns (clean_df, dead_letter_df) for one logical table.

    ``fetcher`` injects the HTTP layer (tests use a deterministic
    fake; production uses the stdlib fetcher + api key).

    ``preflight=True`` runs the variables.json availability check
    (reference filter_available_variables, Test_census_tract.py:125-133)
    before building request specs: variables the vintage doesn't carry
    are dropped from the request (so they can't 400 every chunk into
    the dead-letter table) and surfaced as a diagnostic — logged, and
    recorded as `variable_unavailable` audit rows when ``audit_path``
    is set. Dropped variables still appear in the output schema as
    NULL columns (the reference's reindex semantics)."""
    cfg = C.DATASETS[table_name]
    request_cfg = cfg
    if preflight:
        if fetcher is None:
            fetcher = R.default_urllib_fetcher
        filtered, dropped = C.preflight_datasets(
            fetcher, year=year, datasets={table_name: cfg}
        )
        request_cfg = filtered[table_name]
        if dropped:
            import logging

            logging.getLogger(__name__).warning(
                "census preflight: %d unavailable variable(s) dropped for "
                "year=%s: %s", len(dropped), year, dropped,
            )
            if audit_path:
                diag = spark.createDataFrame(
                    [(t, v, year, "variable_unavailable") for t, v in dropped],
                    "table_name string, variable string, year int, reason string",
                )
                diag.write.mode("append").parquet(audit_path + "_preflight")
    fetched = _fetched_responses(
        spark, table_name, year, chunk_size,
        tuple(request_cfg.get("variables", ())), "tract:*", fetcher,
    )
    return _run_table(
        spark, fetched, cfg, audit_path=audit_path, cast_measures=cast_measures
    )


@shared_memo
def _fetched_responses(
    spark: SparkSession,
    table_name: str,
    year: int,
    chunk_size: int | None,
    variables: tuple[str, ...],
    geo_for: str,
    fetcher: R.FetchFn | None,
) -> tuple[DataFrame, tuple[str, ...]]:
    """(responses, observed header names) of one table's request
    universe, filled by one Spark job. The response frame is a lazy
    localCheckpoint, the materialized fetch output a production
    pipeline persists before decode; the collect of its header rows
    (``observed_headers``) runs the fetch and fills the checkpoint in
    the same job. Memoized because two registry entries
    (census_pipeline_e2e and census_write_readback) run the identical
    fetch; tract and ZCTA share it through ``geo_for``.
    ``chunk_size=None`` is the single-shot ZCTA universe, one request
    per dataset with no state clause."""
    datasets = {table_name: {**C.DATASETS[table_name], "variables": list(variables)}}
    if chunk_size is None:
        specs = C.zcta_request_specs(spark, year=year, datasets=datasets)
    else:
        specs = C.request_specs(spark, year=year, chunk_size=chunk_size, datasets=datasets)
    responses = R.fetch_responses(
        specs, fetcher=fetcher, geo_for=geo_for, geo_in_states=chunk_size is not None
    ).localCheckpoint(eager=False)
    return responses, R.observed_headers(responses)


def _run_table(
    spark: SparkSession,
    fetched: tuple[DataFrame, tuple[str, ...]],
    cfg: dict,
    *,
    audit_path: str | None,
    cast_measures: bool,
) -> tuple[DataFrame, DataFrame]:
    """The one table body of both pipelines: audit → dead-letter split
    → wire decode → normalize → mapping rename → align → cast_clean.
    The last four are one projection (``T.clean_projection``), so the
    body runs no Spark job and costs under a hundred py4j calls."""
    responses, observed = fetched
    if audit_path:
        append_audit(responses, audit_path)
    ok, dead = R.split_dead_letters(responses)

    expected = ["NAME"] + list(dict.fromkeys(cfg["variables"]))
    decoded = R.decode_wire(ok, expected, observed)

    mapping = C.load_mapping_dict(spark)
    labels = [mapping.get(v, v) for v in expected]
    casts = {}
    if cast_measures:
        # typed tier: measures → long, blanks + ACS sentinels → NULL
        casts = {mapping[v]: "long" for v in cfg["variables"] if v in mapping}
    out = decoded.selectExpr(
        *T.clean_projection(decoded.columns, mapping, ["TABLE_NAME"] + labels, casts)
    )
    return out, dead


def write_warehouse_layout(
    df: DataFrame,
    path: str,
    *,
    sort_cols: tuple[str, ...] = ("STATE_FIPS", "COUNTY", "TRACT"),
    num_files: int = 8,
    fmt: str = "parquet",
) -> None:
    """The DISTSTYLE EVEN + SORTKEY(state_fips, county, tract) analog
    (Test_census_tract.py:236-237): round-robin repartition for even
    file sizes, sortWithinPartitions so parquet row-group min/max stats
    give data skipping on the sort keys."""
    present = [c for c in sort_cols if c in df.columns]
    writer = df.repartition(num_files).sortWithinPartitions(*present).write.mode("overwrite")
    if fmt == "csv":
        writer.option("header", True).csv(path)
    else:
        writer.parquet(path)


def write_keyed_layout(
    df: DataFrame,
    path: str,
    *,
    key: str = "STATE_FIPS",
    sort_cols: tuple[str, ...] = ("COUNTY", "TRACT"),
    target_rows_per_file: int | None = None,
) -> None:
    """The DISTKEY-analog writer, covering BOTH file-count regimes
    (VERDICT r11 ask #7).

    - ``target_rows_per_file=None`` (test scale): ``repartition(key)``
      before ``partitionBy(key)`` — one file per key, file count =
      distinct keys, not keys × tasks.
    - ``target_rows_per_file=t`` (the 100-TB regime): one-file-per-key
      INVERTS into the giant-file problem — a multi-TB key must split
      into target-sized files AND write in parallel. Policy (the
      ``compaction_bin_packing`` entry's, applied at write time): per
      key, bins = ceil(n_key / t) from a tiny count aggregate broadcast
      back; each row gets bin = pmod(hash(sort_cols), bins) and the
      shuffle keys on (key, bin), so a huge key's write is bins-wide
      parallel and every key's directory holds ~ceil(n/t) target-sized
      files. Hash-binning (not range) keeps the bin assignment
      narrow-dependency-cheap; rows stay sorted by ``sort_cols`` WITHIN
      each file via sortWithinPartitions, so sort-key page pruning
      still holds per file.
    """
    from pyspark.sql import functions as F

    present = [c for c in sort_cols if c in df.columns]
    if target_rows_per_file is None:
        out = df.repartition(key)
    else:
        if not present:
            # the bin hash needs within-key-varying inputs; silently
            # falling back would put a giant key in one bin (and
            # F.hash() with zero args is an AnalysisException anyway)
            raise ValueError(
                f"write_keyed_layout: none of sort_cols {sort_cols!r} "
                f"exist in the frame (columns: {df.columns}); the "
                "binned regime needs at least one present sort column "
                "to split a key's rows across files"
            )
        # One pass over the input for the per-key counts: collect the
        # manifest-grained rows (one per distinct key) and rebuild the
        # broadcast side from them, instead of re-running the full
        # upstream aggregate inside the join (r12 review finding — on
        # an expensive upstream frame the whole plan executed twice).
        key_rows = (
            df.groupBy(key)
            .agg(
                F.ceil(F.count(F.lit(1)) / target_rows_per_file)
                .cast("int")
                .alias("__bins")
            )
            .withColumnRenamed(key, "__key")
            .collect()
        )
        # Manifest-grained scalar (one row per distinct key, summed):
        # the explicit shuffle width keeps AQE from coalescing the
        # (key, bin) split back into few tasks — exactly the per-key
        # write parallelism the binning exists to buy.
        n_shuffle = max(sum(r["__bins"] or 0 for r in key_rows), 1)
        per_key = df.sparkSession.createDataFrame(
            key_rows, schema=f"__key {df.schema[key].dataType.simpleString()}, __bins int"
        )
        out = (
            # null-safe: a writer must not DROP null-keyed rows — plain
            # equality would lose every NULL key through the bin join
            df.join(
                F.broadcast(per_key), F.col(key).eqNullSafe(F.col("__key"))
            )
            .drop("__key")
            .withColumn(
                "__bin",
                F.pmod(
                    F.abs(F.hash(*[F.col(c) for c in present])),
                    F.greatest(F.col("__bins"), F.lit(1)),
                ),
            )
            .repartition(int(n_shuffle), key, "__bin")
            .drop("__bins", "__bin")
        )
    (
        out.sortWithinPartitions(key, *present)
        .write.mode("overwrite")
        .partitionBy(key)
        .parquet(path)
    )


def run_zcta_pipeline(
    spark: SparkSession,
    *,
    table_name: str = "dp02",
    year: int = 2017,
    fetcher: R.FetchFn | None = None,
    audit_path: str | None = None,
    cast_measures: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """The reference's second pipeline (test_final_zcta.py): 2017
    vintage, all ZCTAs in one request per dataset, geography column
    `zip code tabulation area` probed from the response (its header
    name contains spaces — kept verbatim through normalization)."""
    cfg = C.DATASETS[table_name]
    fetched = _fetched_responses(
        spark, table_name, year, None, tuple(cfg["variables"]),
        "zip code tabulation area:*", fetcher,
    )
    out, dead = _run_table(
        spark, fetched, cfg, audit_path=audit_path, cast_measures=cast_measures
    )
    return out.drop("STATE_FIPS"), dead
