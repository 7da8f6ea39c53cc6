"""Pin the two engine behaviors the round-7 streaming oracles depend
on (queries_streaming):

1. append-mode emission is ``end <= watermark`` — a window ending
   exactly AT the final watermark IS emitted;
2. the watermark is computed from MS-FLOORED event times — a session
   ending 200 µs after the floored watermark is NOT emitted even
   though the raw (µs) max-event-time watermark would pass it.

If a Spark upgrade changes either rule, these fail before the
driver's oracle comparison does.
"""

from __future__ import annotations

import datetime
import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

T = datetime.datetime


def _write_events(tmp_path, rows) -> str:
    """rows: (event_id, user_id, event_type, value, ts). One
    events.parquet under its own dir, shaped like the driver fixture."""
    d = str(tmp_path / "wmfix")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "ts": pa.array([r[4] for r in rows], pa.timestamp("us")),
        }
    )
    pq.write_table(table, os.path.join(d, "events.parquet"))
    return d


def test_window_ending_at_watermark_emits(spark, tmp_path):
    """max ts = 03:10:00.000 → wm = 03:00:00.000; the [02:00, 03:00)
    window ends exactly AT the watermark and must emit (<=, not <)."""
    from clean_census_acs_data_spark.streaming import windows as W

    d = _write_events(
        tmp_path,
        [
            (1, 10, "view", 1.0, T(2024, 1, 1, 1, 30, 0)),
            (2, 10, "view", 1.0, T(2024, 1, 1, 2, 30, 0)),
            (3, 10, "view", 1.0, T(2024, 1, 1, 3, 10, 0)),
        ],
    )
    got = sorted(str(r.window_end) for r in W.streaming_tumbling(spark, d).collect())
    assert got == ["2024-01-01 02:00:00", "2024-01-01 03:00:00"]


def test_watermark_is_ms_floored(spark, tmp_path):
    """Session end = t0+6h+200µs; raw µs watermark = t0+6h+400µs would
    pass it, but the engine floors event times to ms, so the watermark
    is t0+6h exactly and the session must NOT emit."""
    from clean_census_acs_data_spark.streaming import windows as W

    t0 = T(2024, 1, 1, 1, 0, 0)
    us = datetime.timedelta(microseconds=1)
    d = _write_events(
        tmp_path,
        [
            (1, 1, "view", 1.0, t0),
            (2, 1, "view", 1.0, t0 + 200 * us),
            (3, 2, "view", 1.0, t0 + datetime.timedelta(hours=6, minutes=10) + 400 * us),
        ],
    )
    out = W.streaming_session(spark, d).collect()
    assert [r.user_id for r in out] == []  # ms-floored wm == session_end − 200µs


def test_session_window_exact_gap_merges(spark):
    """An event at exactly prev_ts + gap MERGES into the running session
    (Spark's session_window closes the merge boundary). Pins the strict
    `>` in the gaps-and-islands session oracles: `>=` (a new session at
    exactly-gap, suggested by ADVICE r7) would desync the engines."""
    from pyspark.sql import functions as F

    rows = [
        (1, T(2024, 1, 1, 0, 0, 0)),
        (1, T(2024, 1, 1, 6, 0, 0)),  # exactly gap after event 1
        (1, T(2024, 1, 1, 12, 0, 1)),  # 1s past gap after event 2 → new
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = sorted(
        df.groupBy(F.session_window("ts", "6 hours"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("n")
        .collect()
    )
    assert [r.n for r in out] == [1, 2]
