"""Structured Streaming behavior tests (SURVEY.md §5.2 item 5):
watermark drops late rows across micro-batches, session windows merge,
dropDuplicatesWithinWatermark dedups within the watermark horizon.

Uses a file-source stream with maxFilesPerTrigger=1 so AvailableNow
processes one parquet file per micro-batch — the watermark advances
between batches, which single-batch runs can't exercise."""

from __future__ import annotations

import time
import uuid
from datetime import datetime

import pytest
from pyspark.sql import functions as F

TS = datetime  # alias


_BATCH_SEQ = {}


def _write_batch(spark, path, rows, schema="event_id long, ts timestamp, user_id long, event_type string, value double"):
    """Write one parquet file per call with strictly increasing mtimes —
    the file stream source orders micro-batches by modification time,
    and same-millisecond writes would make batch order nondeterministic."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    seq = _BATCH_SEQ.get(path, 0)
    _BATCH_SEQ[path] = seq + 1
    names = [f.split()[0] for f in schema.split(", ")]
    cols = {n: [r[i] for r in rows] for i, n in enumerate(names)}
    table = pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array(cols["ts"], pa.timestamp("us")),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
        }
    )
    fp = os.path.join(path, f"b{seq}.parquet")
    pq.write_table(table, fp)
    t = 1_700_000_000 + seq * 3600
    os.utime(fp, (t, t))


def _run_stream(spark, path, build_agg, schema):
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    name = f"s_{uuid.uuid4().hex[:10]}"
    q = (
        build_agg(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Batch 0 advances the watermark to 12:00−10min; the 09:00 window
    is then emitted+evicted during batch 1. A 09:00 event arriving in
    batch 2 — after eviction — is dropped. (Empirically verified Spark
    nuance: a late row landing in the SAME batch where its window is
    being closed still merges; the drop guarantee starts once the state
    is evicted, i.e. the following batch.)"""
    path = str(tmp_path / "stream")
    _write_batch(
        spark,
        path,
        [
            (1, TS(2024, 1, 1, 9, 30), 1, "click", 1.0),
            (2, TS(2024, 1, 1, 12, 0), 1, "click", 1.0),  # watermark → 11:50
        ],
    )
    _write_batch(
        spark,
        path,
        [
            (4, TS(2024, 1, 1, 11, 58), 1, "click", 1.0),  # on time
            (5, TS(2024, 1, 1, 15, 0), 1, "click", 1.0),  # watermark → 14:50
        ],
    )
    _write_batch(
        spark,
        path,
        [
            (3, TS(2024, 1, 1, 9, 0), 1, "click", 1.0),  # LATE: state evicted → dropped
        ],
    )
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def agg(stream):
        return (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )

    out = {r["ws"]: r["n"] for r in _run_stream(spark, path, agg, schema).collect()}
    # 09:00 window: only the batch-0 event; the late batch-2 event dropped
    assert out[TS(2024, 1, 1, 9, 0)] == 1
    # on-time 11:00 window counted; 12:00 emitted once watermark passed
    assert out[TS(2024, 1, 1, 11, 0)] == 1
    assert out[TS(2024, 1, 1, 12, 0)] == 1
    # 15:00 window still open at end-of-stream → withheld by append mode
    assert TS(2024, 1, 1, 15, 0) not in out


def test_session_windows_merge_across_batches(spark, tmp_path):
    """Two events 10 min apart (gap 30 min) merge into one session even
    when they arrive in different micro-batches; a third event 2 h later
    starts a new session."""
    path = str(tmp_path / "stream")
    _write_batch(spark, path, [(1, TS(2024, 1, 1, 9, 0), 7, "click", 1.0)])
    _write_batch(
        spark,
        path,
        [
            (2, TS(2024, 1, 1, 9, 10), 7, "click", 1.0),
            (3, TS(2024, 1, 1, 11, 10), 7, "click", 1.0),
            (4, TS(2024, 1, 1, 23, 0), 7, "click", 1.0),  # closes earlier sessions via watermark
        ],
    )
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def agg(stream):
        return (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ss"), F.col("w.end").alias("se"), "n")
        )

    rows = {(r["ss"], r["se"]): r["n"] for r in _run_stream(spark, path, agg, schema).collect()}
    # merged session: 9:00–9:40 (= 9:10 + 30min gap), 2 events
    assert rows[(TS(2024, 1, 1, 9, 0), TS(2024, 1, 1, 9, 40))] == 2
    # separate session at 11:10
    assert rows[(TS(2024, 1, 1, 11, 10), TS(2024, 1, 1, 11, 40))] == 1


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Same event_id re-delivered within the watermark horizon is
    dropped; the state for old keys is evictable after the watermark
    passes (bounded state — the 100-TB property)."""
    path = str(tmp_path / "stream")
    _write_batch(
        spark,
        path,
        [
            (1, TS(2024, 1, 1, 9, 0), 1, "click", 1.0),
            (2, TS(2024, 1, 1, 9, 1), 1, "click", 1.0),
        ],
    )
    _write_batch(
        spark,
        path,
        [
            (1, TS(2024, 1, 1, 9, 2), 1, "click", 1.0),  # duplicate id, within watermark
            (3, TS(2024, 1, 1, 9, 3), 1, "click", 1.0),
        ],
    )
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def agg(stream):
        return stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
            ["event_id"]
        ).select("event_id", "ts")

    ids = sorted(r["event_id"] for r in _run_stream(spark, path, agg, schema).collect())
    assert ids == [1, 2, 3]


# ---------------------------------------------------------------------------
# applyInPandasWithState custom sessionizer (streaming/stateful.py)
# ---------------------------------------------------------------------------


def _write_session_batch(path, rows):
    """rows: (user_id, ts, value_cents). One parquet file per call,
    increasing mtimes (same contract as _write_batch)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    seq = _BATCH_SEQ.get(path, 0)
    _BATCH_SEQ[path] = seq + 1
    table = pa.table(
        {
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "value_cents": pa.array([r[2] for r in rows], pa.int64()),
        }
    )
    fp = os.path.join(path, f"b{seq}.parquet")
    pq.write_table(table, fp)
    t = 1_700_000_000 + seq * 3600
    os.utime(fp, (t, t))


def test_stateful_sessionizer_semantics(spark, tmp_path):
    """In-data gap closes a session immediately; watermark-passed
    timeout closes a session across batches; trailing sessions stay in
    state (append semantics)."""
    from clean_census_acs_data_spark.streaming.stateful import sessionize_with_state

    path = str(tmp_path / "sess")
    d = lambda h, m=0: TS(2024, 1, 1, h, m)  # noqa: E731
    # batch0: user1 session A (10:00,10:10) then 12:00 (> 30min gap →
    # closes A in-batch); user2 starts at 12:00
    _write_session_batch(path, [(1, d(10), 100), (1, d(10, 10), 50), (1, d(12), 10), (2, d(12), 7)])
    # batch1: user2 at 14:00 → gap closes user2's 12:00 session in-batch;
    # watermark advances to 11:50
    _write_session_batch(path, [(2, d(14), 20)])
    # batch2: user2 at 16:00 → closes the 14:00 session in-batch; the
    # now-13:50 watermark fires user1's 12:00 session timeout (12:30)
    _write_session_batch(path, [(2, d(16), 3)])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value_cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    import uuid as _uuid

    name = f"s_{_uuid.uuid4().hex[:10]}"
    q = (
        sessionize_with_state(stream, gap="30 minutes", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.value_cents)
        for r in spark.table(name).collect()
    }
    assert got == {
        (1, d(10), d(10, 10), 2, 150),   # closed by in-data gap (batch0)
        (2, d(12), d(12), 1, 7),          # closed by in-data gap (batch1)
        (1, d(12), d(12), 1, 10),         # closed by event-time timeout (batch2)
        (2, d(14), d(14), 1, 20),         # closed by in-data gap (batch2)
        # user2's 16:00 session remains in state — never emitted
    }


def test_stateful_sessions_query_runs(spark):
    """The registered rows-only query is deterministic across runs."""
    from clean_census_acs_data_spark.queries import QUERIES

    a = QUERIES["streaming_stateful_sessions"](spark, "/root/testdata/sf0.001")
    rows_a = sorted(map(tuple, a.collect()))
    assert len(rows_a) > 0
    b = QUERIES["streaming_stateful_sessions"](spark, "/root/testdata/sf0.001")
    assert rows_a == sorted(map(tuple, b.collect()))


def test_interval_join_matches_batch(spark):
    """For an inner interval join over a fully-replayed input, the
    streaming result set must equal the static-DataFrame join — the
    watermark affects state eviction timing, never inner-join
    membership."""
    from clean_census_acs_data_spark.io import load_table
    from clean_census_acs_data_spark.streaming.windows import streaming_interval_join

    sf = "/root/testdata/sf0.001"
    streamed = streaming_interval_join(spark, sf)
    got = {tuple(r) for r in streamed.collect()}

    ev = load_table(spark, sf, "events")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    want = {
        tuple(r)
        for r in views.join(
            clicks,
            (F.col("v_user") == F.col("c_user"))
            & (F.col("click_ts") >= F.col("view_ts"))
            & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 minutes")),
        )
        .select("view_id", "click_id", F.col("v_user").alias("user_id"), "view_ts", "click_ts")
        .collect()
    }
    assert len(want) > 0
    assert got == want


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """File-sink exactly-once across restarts: run an AvailableNow query
    to completion, add new input files, rerun with the SAME checkpoint —
    the sink must contain every input row exactly once (old batches are
    not reprocessed; new files are). This is the recovery contract that
    replaces the reference's rerun-everything failure mode."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    d = lambda h: TS(2024, 1, 1, h)  # noqa: E731

    _write_session_batch(src, [(1, d(1), 10), (2, d(2), 20)])

    def run_once():
        q = (
            spark.readStream.schema("user_id long, ts timestamp, value_cents long")
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = spark.read.parquet(sink).collect()
    assert {(r.user_id, r.value_cents) for r in first} == {(1, 10), (2, 20)}

    # new data arrives; restart from the same checkpoint
    _write_session_batch(src, [(3, d(3), 30)])
    run_once()
    rows = spark.read.parquet(sink).collect()
    got = sorted((r.user_id, r.value_cents) for r in rows)
    assert got == [(1, 10), (2, 20), (3, 30)]  # no dupes, nothing lost


def test_foreachbatch_multi_sink_audit(spark, tmp_path):
    """foreachBatch fans one stream into a data sink plus an audit
    table — one audit row per micro-batch with its row count, all
    input rows in the data sink."""
    from clean_census_acs_data_spark.sources.audit import write_stream_with_audit

    src = str(tmp_path / "src")
    d = lambda h: TS(2024, 1, 1, h)  # noqa: E731
    _write_session_batch(src, [(1, d(1), 10), (2, d(1), 20)])
    _write_session_batch(src, [(3, d(2), 30)])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value_cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = write_stream_with_audit(
        stream,
        data_path=str(tmp_path / "data"),
        audit_path=str(tmp_path / "audit"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    data = spark.read.parquet(str(tmp_path / "data"))
    audit = spark.read.parquet(str(tmp_path / "audit"))
    assert data.count() == 3
    assert {r.user_id for r in data.collect()} == {1, 2, 3}
    arows = sorted((r.batch_id, r.n_rows) for r in audit.collect())
    assert arows == [(0, 2), (1, 1)]  # one audit row per batch, counts match


def test_foreachbatch_streaming_cdc_merge(spark, tmp_path):
    """Streaming CDC apply: each micro-batch of change rows is MERGEd
    into a parquet base table via foreachBatch (read base → merge_upsert
    → overwrite). Batch 1 inserts/updates; batch 2 updates one key and
    deletes another — the final base must reflect both batches applied
    in order."""
    from clean_census_acs_data_spark.operators.merge import merge_upsert

    base_path = str(tmp_path / "base")
    spark.createDataFrame(
        [(1, 100), (2, 200), (3, 300)], "k long, v long"
    ).write.parquet(base_path)

    src = str(tmp_path / "changes")
    d = lambda h: TS(2024, 1, 1, h)  # noqa: E731
    # (user_id=k, ts, value_cents=v); deletes signalled by v < 0
    _write_session_batch(src, [(2, d(1), 250), (4, d(1), 400)])
    _write_session_batch(src, [(4, d(2), 450), (1, d(2), -1)])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value_cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def apply_batch(batch_df, batch_id):
        changes = batch_df.select(
            F.col("user_id").alias("k"),
            F.col("value_cents").alias("v"),
            (F.col("value_cents") < 0).alias("is_delete"),
        )
        s = batch_df.sparkSession
        base = s.read.parquet(base_path)
        merged = merge_upsert(base, changes, key="k", delete_col="is_delete")
        # stage-then-swap: writing over an input path mid-read is unsafe
        staged = base_path + f"_stage{batch_id}"
        merged.write.mode("overwrite").parquet(staged)
        import shutil
        shutil.rmtree(base_path)
        shutil.move(staged, base_path)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    final = {r.k: r.v for r in spark.read.parquet(base_path).collect()}
    # 1 deleted, 2 updated (batch 1), 3 untouched, 4 inserted then updated
    assert final == {2: 250, 3: 300, 4: 450}


def test_rocksdb_state_store_provider_equivalence(spark):
    """The 100-TB state-store choice: RocksDB keeps streaming state
    off-heap and on local disk (bounded executor memory at billions of
    keys) where the default HDFSBackedStateStoreProvider holds every
    version on the JVM heap. Same query, both providers, identical
    results — proving the engine's streaming operators are
    provider-agnostic and the scale knob is pure configuration."""
    from clean_census_acs_data_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )

    def run():
        df = QUERIES["streaming_tumbling_watermark"](spark, sf)
        return sorted(tuple(str(v) for v in r) for r in df.collect())

    default_rows = run()
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, rocks)
        rocks_rows = run()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert rocks_rows == default_rows
    assert len(rocks_rows) > 0


# ---------------------------------------------------------------------------
# applyInPandasWithState token-bucket rate limiter (streaming/stateful.py)
# ---------------------------------------------------------------------------


def test_rate_limiter_semantics(spark, tmp_path):
    """Burst capacity admits, exhaustion drops, event-time refill
    re-admits, and state carries across micro-batches."""
    from clean_census_acs_data_spark.streaming.stateful import rate_limit_with_state

    path = str(tmp_path / "rate")
    d = lambda h, m=0: TS(2024, 1, 1, h, m)  # noqa: E731
    # batch0: user1 fires 7 events in one minute → capacity 2 admits
    # the first 2, drops 5
    _write_session_batch(
        path, [(1, d(10, i), 10 + i) for i in range(7)]
    )
    # batch1: 30 minutes later → 3 tokens accrued (1/10min), capped at
    # capacity 2 → admits exactly 2 of the next 3
    _write_session_batch(
        path, [(1, d(10, 40 + i), 50 + i) for i in range(3)]
    )

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value_cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    import uuid as _uuid

    name = f"r_{_uuid.uuid4().hex[:10]}"
    q = (
        rate_limit_with_state(stream, capacity=2, refill_period="10 minutes")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted(
        (r.ts, r.value_cents, r.tokens_left_micro)
        for r in spark.table(name).collect()
    )
    assert [v for _, v, _ in rows] == [10, 11, 50, 51]
    # balances after admission: burst admit leaves 1 token, the second
    # admit happens on the 0.1-token/minute accrual (1.1 → 0.1); the
    # 34-minute gap re-fills to the 2-token cap before batch1
    assert [b for _, _, b in rows] == [1_000_000, 100_000, 1_000_000, 100_000]


def test_rate_limiter_late_event_cannot_rewind_clock(spark, tmp_path):
    """Regression (ADVICE r5 #1): a late-but-within-watermark event in a
    later micro-batch must NOT move the accrual clock backwards — the
    old code set last_us unconditionally, so the interval it rewound
    over was credited a second time by the next in-order event
    (over-admission)."""
    from clean_census_acs_data_spark.streaming.stateful import rate_limit_with_state

    path = str(tmp_path / "late")
    d = lambda h, m=0: TS(2024, 1, 1, h, m)  # noqa: E731
    # batch0: 10:00 admits (capacity 1 → balance 0), 10:05 accrues 0.5
    # tokens and is denied; clock = 10:05
    _write_session_batch(path, [(1, d(10), 100), (1, d(10, 5), 101)])
    # batch1: 10:01 is LATE (< clock) but inside the 10-min watermark —
    # no accrual, denied, clock must stay 10:05. Then 10:08 accrues
    # only 3 min (0.3 → 0.8 tokens) and is denied. The buggy rewind to
    # 10:01 would credit 7 min instead (0.5+0.7=1.2) and admit 103.
    _write_session_batch(path, [(1, d(10, 1), 102), (1, d(10, 8), 103)])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value_cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    name = f"l_{uuid.uuid4().hex[:10]}"
    q = (
        rate_limit_with_state(stream, capacity=1, refill_period="10 minutes")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted(
        (r.ts, r.value_cents, r.tokens_left_micro)
        for r in spark.table(name).collect()
    )
    assert rows == [(d(10), 100, 0)]


def test_rate_limiter_query_deterministic(spark):
    from clean_census_acs_data_spark.queries import QUERIES

    a = QUERIES["streaming_rate_limiter"](spark, "/root/testdata/sf0.001")
    rows_a = sorted(map(tuple, a.collect()))
    assert len(rows_a) > 0
    b = QUERIES["streaming_rate_limiter"](spark, "/root/testdata/sf0.001")
    assert rows_a == sorted(map(tuple, b.collect()))


def test_rate_limiter_split_invariance(spark):
    """Replay-split invariance (justifies the n_splits=1 registered
    default, r10): staged batches are fixed TIME splits, so the
    per-key admission fold visits events in the same order at any
    split count — the admitted set and balances must be identical."""
    from clean_census_acs_data_spark.streaming.stateful import (
        rate_limit_events_availablenow,
    )

    sf = "/root/testdata/sf0.001"
    rows = {
        n: sorted(
            map(tuple, rate_limit_events_availablenow(spark, sf, n_splits=n).collect())
        )
        for n in (1, 3)
    }
    assert rows[1] and rows[1] == rows[3]


def test_stateful_sessionizer_split_invariance(spark):
    """Same property for the sessionizer: only the FINAL watermark
    decides the trailing session (the oracle's closed form), so the
    emitted session set is split-invariant."""
    from clean_census_acs_data_spark.streaming.stateful import (
        sessionize_events_availablenow,
    )

    sf = "/root/testdata/sf0.001"
    rows = {
        n: sorted(
            map(tuple, sessionize_events_availablenow(spark, sf, n_splits=n).collect())
        )
        for n in (1, 3)
    }
    assert rows[1] and rows[1] == rows[3]


def test_stateful_sessionizer_carry_continuation(spark, tmp_path):
    """Regression (round-10 review): an open session carried in state
    whose next batch's FIRST event falls WITHIN the gap must merge into
    it — the vectorized fold previously crashed (no internal gap) or
    bridged a real gap and dropped the carried events (internal gap)."""
    from clean_census_acs_data_spark.streaming.stateful import sessionize_with_state

    path = str(tmp_path / "carry")
    d = lambda h, m=0: TS(2024, 1, 1, h, m)  # noqa: E731
    # batch0 opens user1's session (10:00-10:10)
    _write_session_batch(path, [(1, d(10), 100), (1, d(10, 10), 50)])
    # batch1: first event 10:20 CONTINUES the carried session (≤ 30 min
    # gap), then an in-batch gap at 12:00 closes it; user2 advances the
    # watermark far enough in batch2 to flush nothing extra
    _write_session_batch(path, [(1, d(10, 20), 7), (1, d(12), 3)])
    # batch2: user2 events push the watermark past 12:30 so user1's
    # 12:00 session times out
    _write_session_batch(path, [(2, d(14), 1)])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value_cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    import uuid as _uuid

    name = f"c_{_uuid.uuid4().hex[:10]}"
    q = (
        sessionize_with_state(stream, gap="30 minutes", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.value_cents)
        for r in spark.table(name).collect()
    }
    # the carried session (10:00..10:20, 3 events, 157 cents) closes on
    # the IN-BATCH gap at 12:00; the 12:00 singleton times out via the
    # batch2 watermark; user2's trailing session stays in state
    assert got == {
        (1, d(10), d(10, 20), 3, 157),
        (1, d(12), d(12), 1, 3),
    }


def test_staged_events_dir_memoizes_per_signature(spark):
    """staged_events_dir builds the staging write at most once per
    (SparkContext, sf_dir, n_splits, extra_cols) — the sessionizer,
    rate limiter and CUSUM consumers share one staging pass — while a
    different signature (extra columns, split count) gets its own dir."""
    import os

    from clean_census_acs_data_spark.streaming import stateful as S

    sf = "/root/testdata/sf0.001"
    a = S.staged_events_dir(spark, sf, 2)
    assert S.staged_events_dir(spark, sf, 2, extra_cols=()) is a
    assert os.path.isfile(os.path.join(a, "b0.parquet"))
    c = S.staged_events_dir(spark, sf, 2, extra_cols=("event_type",))
    d = S.staged_events_dir(spark, sf, 3)
    assert c != a and d != a and c != d


def test_teardown_deletes_the_staging_dir(spark, sf_dir):
    """Dropping the staging-dir memo deletes the staged batches."""
    import os

    from clean_census_acs_data_spark.session import teardown_shared_memos
    from clean_census_acs_data_spark.streaming import stateful as S

    stage = S.staged_events_dir(spark, sf_dir, 2)
    assert os.path.isfile(os.path.join(stage, "b0.parquet"))
    teardown_shared_memos()
    assert not os.path.exists(stage)


def test_teardown_restages_after_a_data_refresh(spark, sf_dir, tmp_path):
    """teardown_shared_memos() is the call to make before a data refresh
    under a memoized sf_dir: after it, the sessionizer stages the new
    events instead of replaying the batches staged from the old ones."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from clean_census_acs_data_spark.session import teardown_shared_memos
    from clean_census_acs_data_spark.streaming.stateful import (
        sessionize_events_availablenow,
    )

    def sessions(sf):
        return sorted(map(tuple, sessionize_events_availablenow(spark, sf).collect()))

    src = os.path.join(sf_dir, "events.parquet")
    refreshed, fresh = tmp_path / "refreshed", tmp_path / "fresh"
    refreshed.mkdir()
    fresh.mkdir()
    shutil.copy(src, refreshed / "events.parquet")
    before = sessions(str(refreshed))

    teardown_shared_memos()
    events = pq.read_table(src)
    subset = events.slice(0, events.num_rows // 2)
    pq.write_table(subset, refreshed / "events.parquet")
    pq.write_table(subset, fresh / "events.parquet")
    after = sessions(str(refreshed))

    assert after == sessions(str(fresh))
    assert after != before
