"""Sink semantics tests: CSV round-trip with the reference's COPY null
semantics (EMPTYASNULL BLANKSASNULL, Test_census_tract.py:277), and the
warehouse layout writer's sort-within-partitions property."""

from __future__ import annotations

from pyspark.sql import functions as F

from clean_census_acs_data_spark import transforms as T


def test_csv_roundtrip_empty_as_null(spark, tmp_path):
    """CSV loses the empty-string/NULL distinction; the engine's read
    path (nullValue='' + a nullif(trim(v), '') cleanup) reproduces
    Redshift COPY EMPTYASNULL BLANKSASNULL."""
    df = spark.createDataFrame(
        [("1", "a"), ("2", ""), ("3", "  "), ("4", None)], ["id", "v"]
    )
    path = str(tmp_path / "csv")
    df.write.option("header", True).mode("overwrite").csv(path)
    back = spark.read.option("header", True).option("nullValue", "").csv(path)
    cleaned = back.select("id", F.nullif(F.trim(F.col("v")), F.lit("")).alias("v"))
    got = {r["id"]: r["v"] for r in cleaned.collect()}
    assert got == {"1": "a", "2": None, "3": None, "4": None}


def test_layout_writer_sorts_within_partitions(spark, tmp_path):
    """Each written file must be internally sorted on the sort keys
    (the SORTKEY analog → parquet row-group stats enable skipping)."""
    import glob

    from clean_census_acs_data_spark.plans.census_pipeline import write_warehouse_layout

    df = spark.range(0, 1000).select(
        (F.col("id") % 7).cast("string").alias("STATE_FIPS"),
        (F.col("id") % 13).cast("string").alias("COUNTY"),
        F.col("id").cast("string").alias("TRACT"),
    )
    out = str(tmp_path / "layout")
    write_warehouse_layout(df, out, num_files=4)
    files = [f for f in glob.glob(f"{out}/part-*.parquet")]
    assert len(files) == 4
    import pyarrow.parquet as pq

    for f in files:
        t = pq.read_table(f).to_pydict()
        keys = list(zip(t["STATE_FIPS"], t["COUNTY"], t["TRACT"]))
        assert keys == sorted(keys)


def test_union_then_write_preserves_all_rows(spark, tmp_path):
    """pd.concat → unionByName parity under a real write/read cycle."""
    a = spark.createDataFrame([(1, "x")], ["id", "a_only"])
    b = spark.createDataFrame([(2, "y")], ["id", "b_only"])
    u = T.union_all(
        [T.align_schema(a, ["id", "a_only", "b_only"]), T.align_schema(b, ["id", "a_only", "b_only"])]
    )
    path = str(tmp_path / "u")
    u.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    assert back.count() == 2
    assert set(back.columns) == {"id", "a_only", "b_only"}


def test_permissive_read_quarantines_corrupt_rows(spark, tmp_path):
    """The reference skips malformed chunks and logs them
    (Test_census_tract.py:392-394, SURVEY.md §2A row 43). The engine
    analog: mode=PERMISSIVE parses what it can and quarantines broken
    rows into _corrupt_record — a dead-letter column, not a dropped
    chunk and not a failed job (FAILFAST)."""
    p = tmp_path / "mixed.json"
    p.write_text(
        '{"id": 1, "v": "ok"}\n'
        "this is not json at all\n"
        '{"id": 3, "v": "fine"}\n'
        '{"id": 4, "v":\n'
    )
    df = (
        spark.read.schema("id LONG, v STRING, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = df.collect()
    good = {r.id: r.v for r in rows if r._corrupt_record is None}
    bad = [r._corrupt_record for r in rows if r._corrupt_record is not None]
    assert good == {1: "ok", 3: "fine"}
    assert len(bad) == 2  # both malformed lines quarantined, none lost

    # FAILFAST is the opposite policy: same input must raise
    import pytest as _pytest

    strict = (
        spark.read.schema("id LONG, v STRING")
        .option("mode", "FAILFAST")
        .json(str(p))
    )
    with _pytest.raises(Exception, match="Malformed|FAILFAST"):
        strict.collect()


def test_partitioned_write_prunes_at_read(spark, tmp_path):
    """Hive-style partitionBy write → reading with a partition predicate
    must prune directories at plan time (PartitionFilters), the Spark
    form of the reference's source-side `in=state:...` pushdown
    (SURVEY.md §2A row 16): at 100 TB this is the difference between
    scanning one state and scanning the country."""
    import io as _io
    from contextlib import redirect_stdout

    from clean_census_acs_data_spark.io import load_table

    out = str(tmp_path / "events_by_type")
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)

    back = spark.read.parquet(out).where(F.col("event_type") == "click")
    buf = _io.StringIO()
    with redirect_stdout(buf):
        back.explain(mode="formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    # the predicate must appear as a partition filter, not a data filter
    pf_line = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "event_type" in pf_line
    # and the answer is still right
    n_click = ev.where(F.col("event_type") == "click").count()
    assert back.count() == n_click


def test_dynamic_partition_pruning(spark, tmp_path):
    """Joining a partitioned fact to a filtered dim must inject a
    dynamicpruning expression into the fact scan's PartitionFilters:
    the fact side is pruned at RUNTIME by the dim filter's result —
    at 100 TB this means scanning one partition instead of all of
    them even though the selective predicate is on the other table."""
    import io as _io
    from contextlib import redirect_stdout

    from clean_census_acs_data_spark.io import load_table

    out = str(tmp_path / "orders_by_status")
    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    o.withColumn("status", F.col("o_orderstatus")).write.partitionBy(
        "status"
    ).mode("overwrite").parquet(out)

    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("F", "finished"), ("O", "open"), ("P", "pending")], ["code", "label"]
    )
    j = fact.join(dim.where(F.col("label") == "open"), fact.status == dim.code)
    buf = _io.StringIO()
    with redirect_stdout(buf):
        j.groupBy("label").count().explain(mode="formatted")
    plan = buf.getvalue()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "dynamicpruning" in pf[0]
    # and the pruned plan still answers correctly
    n_open = o.where(F.col("o_orderstatus") == "O").count()
    got = {(r.label, r["count"]) for r in j.groupBy("label").count().collect()}
    assert got == {("open", n_open)}


def test_compact_small_files(spark, tmp_path):
    """32 tiny files → 4 compacted files, identical content, no shuffle
    (coalesce)."""
    import glob

    from clean_census_acs_data_spark.io import compact_small_files, load_table

    src = str(tmp_path / "small")
    out = str(tmp_path / "compact")
    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    o.repartition(32).write.mode("overwrite").parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 32

    compact_small_files(spark, src, out, target_files=4)
    assert len(glob.glob(f"{out}/part-*.parquet")) == 4
    a = sorted(map(tuple, spark.read.parquet(src).collect()))
    b = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert a == b


def test_nested_schema_pruning(spark, tmp_path):
    """Nested structs round-trip through parquet, and reading one
    struct field prunes the rest at the scan (ReadSchema shows only
    the accessed leaf) — column pruning must reach INSIDE nested
    types or wide structs at 100 TB read everything."""
    import io as _io
    from contextlib import redirect_stdout

    from clean_census_acs_data_spark.io import load_table

    out = str(tmp_path / "nested")
    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    nested = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderstatus").alias("status"),
            F.struct(
                F.col("o_totalprice").alias("total"),
                F.col("o_orderpriority").alias("priority"),
            ).alias("detail"),
        ).alias("meta"),
        F.array(F.col("o_orderdate")).alias("dates"),
    )
    nested.write.mode("overwrite").parquet(out)

    back = spark.read.parquet(out).select(
        "o_orderkey", F.col("meta.detail.priority").alias("priority")
    )
    buf = _io.StringIO()
    with redirect_stdout(buf):
        back.explain(mode="formatted")
    plan = buf.getvalue()
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "priority" in rs
    assert "custkey" not in rs and "total" not in rs  # siblings pruned
    # values survive the round trip
    want = {(r.o_orderkey, r.o_orderpriority) for r in o.collect()}
    got = {(r.o_orderkey, r.priority) for r in back.collect()}
    assert got == want


# ---------------------------------------------------------------------------
# JDBC warehouse sink (sources/jdbc.py) — DDL/options generation, no live DB
# ---------------------------------------------------------------------------


def test_jdbc_plan_matches_reference_ddl(spark):
    """The generated createTableColumnTypes/createTableOptions must
    reproduce the reference's Redshift DDL choices
    (Test_census_tract.py:225-243): VARCHAR(255) dims, BIGINT measures,
    DISTSTYLE EVEN, SORTKEY(state_fips, county, tract)."""
    from clean_census_acs_data_spark.sources.jdbc import plan_jdbc_write

    df = spark.createDataFrame(
        [("01", "001", "000100", 42)],
        "STATE_FIPS string, COUNTY string, TRACT string, TOTAL_POP long",
    )
    opts = plan_jdbc_write(df, "jdbc:postgresql://wh:5439/db", "acs.tract")
    assert opts["dbtable"] == "acs.tract"
    assert opts["createTableColumnTypes"] == (
        "STATE_FIPS VARCHAR(255), COUNTY VARCHAR(255), "
        "TRACT VARCHAR(255), TOTAL_POP BIGINT"
    )
    assert opts["createTableOptions"] == "DISTSTYLE EVEN SORTKEY (STATE_FIPS, COUNTY, TRACT)"
    assert opts["numPartitions"] == "8" and opts["batchsize"] == "10000"
    assert opts["__mode__"] == "overwrite"


def test_jdbc_plan_overrides_and_quoting(spark):
    from clean_census_acs_data_spark.sources.jdbc import plan_jdbc_write

    df = spark.createDataFrame(
        [("x", 1.5, "90210")],
        "NAME string, RATE double, `zip code tabulation area` string",
    )
    opts = plan_jdbc_write(
        df, "jdbc:postgresql://wh/db", "t",
        column_types={"NAME": "VARCHAR(512)"},
        sort_cols=("zip code tabulation area",),
        diststyle=None,
    )
    assert "NAME VARCHAR(512)" in opts["createTableColumnTypes"]
    assert "RATE DOUBLE PRECISION" in opts["createTableColumnTypes"]
    assert "`zip code tabulation area` VARCHAR(255)" in opts["createTableColumnTypes"]
    assert opts["createTableOptions"] == "SORTKEY (zip code tabulation area)"


def test_jdbc_write_fails_cleanly_without_driver(spark):
    """write_jdbc must reach Spark's JDBC layer (options resolved and
    applied) — in-sandbox there is no warehouse, so the expected outcome
    is a driver/connection error from the JDBC layer, not a Python
    error in our code."""
    import py4j.protocol
    import pytest
    from pyspark.sql.utils import AnalysisException

    from clean_census_acs_data_spark.sources.jdbc import write_jdbc

    df = spark.createDataFrame([("01", 1)], "STATE_FIPS string, N long")
    with pytest.raises((py4j.protocol.Py4JJavaError, AnalysisException, Exception)):
        write_jdbc(df, "jdbc:postgresql://nowhere:5439/db", "t")


# ---------------------------------------------------------------------------
# s3a session conf (session.py)
# ---------------------------------------------------------------------------


def test_s3a_conf_keys():
    from clean_census_acs_data_spark.session import s3a_conf

    conf = s3a_conf()
    assert conf["spark.hadoop.fs.s3a.fast.upload"] == "true"
    assert conf["spark.hadoop.fs.s3a.committer.name"] == "magic"
    assert int(conf["spark.hadoop.fs.s3a.multipart.size"]) == 128 * 1024 * 1024
    # no credentials ever inlined
    assert not any("secret" in k or "access.key" in k for k in conf)
    assert "spark.hadoop.fs.s3a.endpoint" not in conf
    with_ep = s3a_conf(endpoint="https://minio.local:9000")
    assert with_ep["spark.hadoop.fs.s3a.endpoint"] == "https://minio.local:9000"


# ---------------------------------------------------------------------------
# Z-order layout (operators/layout.py)
# ---------------------------------------------------------------------------


def _py_morton(a: int, b: int, bits: int) -> int:
    m = (1 << bits) - 1
    a, b = a & m, b & m
    out = 0
    for i in range(bits):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    return out


def test_morton_code_matches_reference(spark):
    from clean_census_acs_data_spark.operators.layout import morton_code
    from pyspark.sql import functions as F

    rows = [(3, 5), (0, 0), (1023, 1), (7, 1024 + 7), (65535, 65535)]
    df = spark.createDataFrame(rows, "a long, b long").select(
        "a", "b", morton_code(F.col("a"), F.col("b"), bits=10).alias("z")
    )
    for r in df.collect():
        assert r.z == _py_morton(r.a, r.b, 10), (r.a, r.b)


def test_zorder_write_clusters_both_dims(spark, tmp_path):
    """Rows in each written file must be sorted by the Morton code, so
    row-group min/max stats are tight on BOTH dimensions."""
    from clean_census_acs_data_spark.io import load_table
    from clean_census_acs_data_spark.operators.layout import morton_code, write_zorder_layout
    from pyspark.sql import functions as F

    part = load_table(spark, "/root/testdata/sf0.001", "part")
    out = str(tmp_path / "zpart")
    write_zorder_layout(part, out, cols=("p_size", "p_partkey"), bits=10, num_files=4)
    back = spark.read.parquet(out)
    assert back.count() == part.count()
    # within every output file, the morton code is non-decreasing
    z = back.withColumn("f", F.input_file_name()).withColumn(
        "z", morton_code(F.col("p_size"), F.col("p_partkey"), bits=10)
    )
    import collections
    per_file = collections.defaultdict(list)
    for r in z.select("f", "z").collect():
        per_file[r.f].append(r.z)
    assert len(per_file) == 4
    for f, vals in per_file.items():
        assert vals == sorted(vals), f


def test_orc_roundtrip_preserves_values(spark, tmp_path):
    """ORC is the other columnar format Spark writes natively; the
    engine surface advertises parquet-first but must round-trip ORC
    bit-identically for warehouse interop (predicate pushdown works
    the same way — asserted via the pushed-filter plan line)."""
    from pyspark.sql import functions as F

    from clean_census_acs_data_spark.io import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "orders")
    out = str(tmp_path / "orders_orc")
    src.write.format("orc").save(out)
    back = spark.read.format("orc").load(out)
    assert back.schema == src.schema
    a = sorted(tuple(str(v) for v in r) for r in src.collect())
    b = sorted(tuple(str(v) for v in r) for r in back.collect())
    assert a == b
    import io as _io
    from contextlib import redirect_stdout

    buf = _io.StringIO()
    with redirect_stdout(buf):
        back.where(F.col("o_orderkey") == 7).explain(mode="formatted")
    assert "PushedFilters: [" in buf.getvalue()


def test_merge_schema_evolution_read(spark, tmp_path):
    """Schema evolution across parquet batches: a later batch adds a
    column; mergeSchema=true reads the union schema with nulls for the
    old files — the day-2 ingestion reality of any long-lived corpus
    directory (at 100 TB, set spark.sql.parquet.mergeSchema per read,
    not globally: footer merging scans every file's metadata)."""
    from pyspark.sql import Row

    p = str(tmp_path / "evolving")
    spark.createDataFrame([Row(doc_id=1, text="a")]).write.mode(
        "append"
    ).parquet(p)
    spark.createDataFrame(
        [Row(doc_id=2, text="b", lang="en")]
    ).write.mode("append").parquet(p)
    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"doc_id", "text", "lang"}
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[1]["lang"] is None and rows[2]["lang"] == "en"


def test_census_write_readback_layout(spark):
    """The warehouse-layout entry's physical contract (VERDICT r10 ask
    #6): one directory per STATE_FIPS chunk (DISTKEY analog), and rows
    INSIDE each partition's parquet file ordered by (COUNTY, TRACT) —
    the SORTKEY analog that makes sort-key predicates prune pages. The
    hash-green oracle proves losslessness; this proves the layout."""
    import glob
    import os

    from clean_census_acs_data_spark.queries import QUERIES

    out = QUERIES["census_write_readback"](spark, "/root/testdata/sf0.001")
    n_keys = out.select("STATE_FIPS").distinct().count()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = os.path.join(repo, "spark-warehouse", "census_write_readback.parquet")
    part_dirs = sorted(glob.glob(os.path.join(base, "STATE_FIPS=*")))
    # one directory per surviving chunk (the fake retry/dead-letter path
    # drops some of the 17 three-state chunks — derive, don't hard-code)
    assert len(part_dirs) == n_keys > 10, part_dirs
    for d in part_dirs[:3]:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, files  # repartition: one file per key
        rows = spark.read.parquet(files[0]).select("COUNTY", "TRACT").collect()
        keys = [(r["COUNTY"], r["TRACT"]) for r in rows]
        assert keys == sorted(keys), f"unsorted rows in {files[0]}"


def test_keyed_layout_multi_file_per_key(spark, tmp_path):
    """The 100-TB regime of the DISTKEY-analog writer (VERDICT r11 ask
    #7): one-file-per-key inverts into the giant-file problem at scale,
    so write_keyed_layout(target_rows_per_file=t) must split a large
    key into ~ceil(n/t) target-sized files via the (key, bin) shuffle —
    parallel write WITHIN a key — while keeping every file internally
    sorted and the round trip lossless."""
    import glob
    import os

    import pyspark.sql.functions as F

    from clean_census_acs_data_spark.plans.census_pipeline import write_keyed_layout

    # skewed keys: A is 40x B — exactly the shape that makes
    # one-file-per-key wrong at scale
    df = spark.range(4100).select(
        F.when(F.col("id") < 4000, F.lit("A")).otherwise(F.lit("B")).alias("STATE_FIPS"),
        (F.col("id") % 97).cast("string").alias("COUNTY"),
        F.col("id").cast("string").alias("TRACT"),
        F.col("id").alias("v"),
    )
    out = str(tmp_path / "keyed")
    write_keyed_layout(df, out, target_rows_per_file=1000)
    a_files = glob.glob(os.path.join(out, "STATE_FIPS=A", "*.parquet"))
    b_files = glob.glob(os.path.join(out, "STATE_FIPS=B", "*.parquet"))
    # key A (4000 rows, target 1000): ceil = 4 bins; hash-binning may
    # collide bins into a task but must split the key at least in two
    assert 2 <= len(a_files) <= 4, a_files
    assert 1 <= len(b_files) <= 1, b_files  # 100 rows: ceil = 1 bin
    # every file sorted by the sort key — page pruning holds per file
    for f in a_files + b_files:
        rows = spark.read.parquet(f).select("COUNTY", "TRACT").collect()
        ks = [(r["COUNTY"], r["TRACT"]) for r in rows]
        assert ks == sorted(ks), f"unsorted rows in {f}"
    # lossless round trip, no row lost or duplicated by the bin join
    back = spark.read.parquet(out)
    assert back.count() == 4100
    assert back.agg(F.sum("v")).collect()[0][0] == sum(range(4100))
    # null keys must survive the bin join (eqNullSafe — a plain equality
    # join silently drops every null-keyed row)
    withnull = df.withColumn(
        "STATE_FIPS",
        F.when(F.col("v") % 5 == 0, F.lit(None)).otherwise(F.col("STATE_FIPS")),
    )
    out3 = str(tmp_path / "keyed_null")
    write_keyed_layout(withnull, out3, target_rows_per_file=1000)
    back3 = spark.read.parquet(out3)
    assert back3.count() == 4100
    assert back3.where(F.col("STATE_FIPS").isNull()).count() == 820
    # one-file-per-key regime still intact through the same helper
    out2 = str(tmp_path / "keyed_single")
    write_keyed_layout(df, out2)
    assert len(glob.glob(os.path.join(out2, "STATE_FIPS=A", "*.parquet"))) == 1
    # binned regime without any present sort column: explicit error
    # naming the missing columns, not a zero-arg hash() crash or a
    # silent single-bin fallback (r12 review finding)
    import pytest

    bare = df.select("STATE_FIPS", "v")
    with pytest.raises(ValueError, match="sort_cols"):
        write_keyed_layout(bare, str(tmp_path / "nope"), target_rows_per_file=10)
    # ...while the default regime on the same frame still succeeds
    out4 = str(tmp_path / "keyed_bare")
    write_keyed_layout(bare, out4)
    assert spark.read.parquet(out4).count() == 4100
