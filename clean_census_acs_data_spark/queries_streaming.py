"""Entries run by Structured Streaming (watermarks, AvailableNow,
state stores, custom stateful operators, the Python streaming source).

Windowed append-mode entries are rows-only checks: append mode
withholds windows the final watermark hasn't passed, which no batch SQL
mirrors exactly. The complete-mode entries maintain one mergeable-state
algebra each (count, count + sort-limit, max, bitwise OR, bottom-k,
min) and are batch-equal under full replay, so they hash-check against
the batch oracle of their batch twin.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clean_census_acs_data_spark.operators import text as X
from clean_census_acs_data_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_M
from clean_census_acs_data_spark.queries_events import _OHLC_ORACLE, _US_HOUR
from clean_census_acs_data_spark.queries_relational import _BM_WORD
from clean_census_acs_data_spark.queries_sketches import (
    _cms_cell,
    _cms_cell_sql,
    _KMV_K,
    CMS_D,
    H15,
)
from clean_census_acs_data_spark.registry import _t, register
from clean_census_acs_data_spark.streaming import windows as W


# ---------------------------------------------------------------------------
# structured streaming. Promoted from rows-only to oracle-backed in
# round 7: for a fully-replayed single-file source under
# Trigger.AvailableNow the engine's output is a DETERMINISTIC function
# of the input — append mode emits exactly the windows/sessions whose
# end ≤ final watermark, and the final watermark is
# floor_ms(max event time) − delay (Spark tracks event-time stats in
# MILLISECONDS; pinned empirically: a window ending exactly AT the
# watermark IS emitted, and a session ending 200 µs after the
# ms-floored watermark is NOT — see the round-7 probes). The oracles
# are therefore the batch twins plus that watermark filter. Boundary
# caveat: emit-at-equality vs sub-ms ties is measure-zero on µs-noise
# event times and identical on all three test scales.
# ---------------------------------------------------------------------------

# final watermark in epoch-µs: ms-floored max event time minus 10 min
_WM_US = (
    "(SELECT (epoch_us(MAX(ts)) // 1000) * 1000 - 600000000 FROM events)"
)

_STREAM_TUMBLING_ORACLE = f"""
WITH base AS (
  SELECT time_bucket(INTERVAL '1 hour', ts)                   AS window_start,
         time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
         event_type,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
  FROM events
  GROUP BY 1, 2, 3
)
SELECT * FROM base WHERE epoch_us(window_end) <= {_WM_US}
"""


@register("streaming_tumbling_watermark", oracle=_STREAM_TUMBLING_ORACLE)
def streaming_tumbling_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling windows + 10-min watermark executed by the streaming
    engine (readStream → state store → append-mode memory sink,
    Trigger.AvailableNow). Emits only watermark-passed windows — which
    for a replayed finite input is exactly the batch aggregate
    filtered to window_end ≤ floor_ms(max ts) − 10 min, so the entry
    hash-checks against DuckDB like any batch query."""
    return W.streaming_tumbling(spark, sf_dir)


_STREAM_SESSION_ORACLE = f"""
WITH o AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 6 HOUR
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  -- (ts, event_id) mirrors the lag window's order so tied timestamps
  -- cannot misassign sid (ADVICE r7). The new_s boundary stays STRICT
  -- (>): Spark's session_window MERGES an event at exactly
  -- prev_ts + gap into the running session (pinned by
  -- tests/test_watermark_semantics.py::test_session_window_exact_gap_merges),
  -- so the advisor's suggested >= would desync the engines.
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
),
base AS (
  SELECT user_id,
         MIN(ts)                      AS session_start,
         MAX(ts) + INTERVAL 6 HOUR    AS session_end,
         COUNT(*)                     AS n_events,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
  FROM s
  GROUP BY user_id, sid
)
SELECT * FROM base WHERE epoch_us(session_end) <= {_WM_US}
"""


@register("streaming_session_window", oracle=_STREAM_SESSION_ORACLE)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (merging session state) + watermark, streaming.
    Emitted sessions = the batch gaps-and-islands sessions whose end
    (last event + gap) has been passed by the ms-floored final
    watermark — hash-checked against that closed form."""
    return W.streaming_session(spark, sf_dir)


@register("streaming_dedup_watermark")  # rows-only check
def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark — bounded-state streaming dedup."""
    return W.streaming_dedup_within_watermark(spark, sf_dir)


_STREAM_IJ_ORACLE = """
WITH v AS (
  SELECT event_id AS view_id, user_id AS v_user, ts AS view_ts
  FROM events WHERE event_type = 'view'
),
c AS (
  SELECT event_id AS click_id, user_id AS c_user, ts AS click_ts
  FROM events WHERE event_type = 'click'
)
SELECT view_id, click_id, v_user AS user_id, view_ts, click_ts
FROM v JOIN c
  ON v_user = c_user
 AND click_ts >= view_ts
 AND click_ts <= view_ts + INTERVAL 30 MINUTE
"""


@register("streaming_interval_join", oracle=_STREAM_IJ_ORACLE)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (views ⋈ same-user clicks within 30
    minutes) with watermarked, evictable state on both sides — the
    canonical unbounded-join shape. Oracle-backed: an INNER join over
    fully-replayed inputs emits exactly the static join's rows
    (streaming only changes *when* rows emit, never which — no
    watermark filter needed), so the entry hash-checks against the
    plain SQL join; the single-file source replays in one micro-batch,
    so no intermediate watermark can drop late rows."""
    return W.streaming_interval_join(spark, sf_dir)


# The custom sessionizer's emission rule, as SQL: 30-min-gap sessions
# per user (gaps-and-islands); every non-trailing session emits (its
# gap was observed in-data), the trailing session emits iff its
# event-time timeout (session_end + gap, ms-floored) has been passed
# by the final watermark. Deterministic because the staged batches are
# fixed TIME splits: no batch boundary can reorder events into or out
# of a session (batch-2 timestamps all exceed batch-1's watermark by
# more than the delay), so only the FINAL watermark matters.
_STATEFUL_SESS_ORACLE = f"""
WITH e AS (
  SELECT user_id, ts, event_id, CAST(ROUND(value * 100) AS BIGINT) AS value_cents
  FROM events WHERE ts IS NOT NULL
),
o AS (
  -- (ts, event_id) tie order in BOTH windows (ADVICE r7): tied
  -- timestamps always share a session (gap 0 ≤ gap on any order), but
  -- an inconsistent SUM tie order could split the sid assignment. The
  -- boundary stays strict (>): the sessionizer breaks on
  -- np.diff(ts) > gap (streaming/stateful.py:130).
  SELECT user_id, ts, event_id, value_cents,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
),
g AS (
  SELECT user_id, sid,
         MIN(ts) AS session_start, MAX(ts) AS session_end,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(value_cents) AS BIGINT) AS value_cents
  FROM s GROUP BY user_id, sid
),
mx AS (SELECT user_id, MAX(sid) AS last_sid FROM g GROUP BY user_id),
wm AS (SELECT {_WM_US} AS wm_us)
SELECT g.user_id, g.session_start, g.session_end, g.n_events, g.value_cents
FROM g JOIN mx USING (user_id), wm
WHERE g.sid < mx.last_sid
   OR (epoch_us(g.session_end) // 1000) * 1000 + 1800000000 <= wm.wm_us
"""


@register("streaming_stateful_sessions", oracle=_STATEFUL_SESS_ORACLE)
def streaming_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: applyInPandasWithState sessionizer
    (user-defined state struct + event-time timeouts), replayed over
    deterministic time-ordered micro-batches. The general form of
    custom streaming state that built-in session_window can't express
    (streaming/stateful.py). Oracle-backed since round 7: the emission
    rule is a closed form over gaps-and-islands sessions (non-trailing
    sessions always emit; trailing ones emit iff the ms-floored final
    watermark passed session_end + gap), so the streamed output
    hash-checks against plain SQL — the same closed form
    tests/test_streaming.py asserts batch-by-batch."""
    from clean_census_acs_data_spark.streaming.stateful import (
        sessionize_events_availablenow,
    )

    return sessionize_events_availablenow(spark, sf_dir)


_REPLAY_ORACLE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM documents GROUP BY source
"""


@register("streaming_replay_source", oracle=_REPLAY_ORACLE)  # complete mode
def streaming_replay_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python streaming DataSource path: the documents table replayed
    as micro-batches through the simpleStreamReader replay source
    (checkpointable row offsets, exactly-once readBetweenOffsets
    recovery), aggregated per source as it streams. Proves the custom-
    source API end to end; per-batch correctness and offset semantics
    in tests/test_replay_stream.py. Oracle-backed since round 7: the
    complete-mode sink after a full replay must equal the batch GROUP
    BY exactly — if the source ever dropped or duplicated a row across
    offsets, the hash would flip."""
    import uuid

    from pyspark.sql import functions as F

    from clean_census_acs_data_spark.sources.replay_stream import (
        register_replay_source,
    )
    from clean_census_acs_data_spark.streaming.windows import _streaming_scope

    # few state partitions: every micro-batch runs one task per state
    # partition, so 32 over a test-sized stream is pure scheduling
    # overhead. Scoped to a session clone (shared SparkContext,
    # independent SQLConf) so concurrent queries never observe it;
    # the Python DataSource registration is per-session, so register
    # on the clone. sp=2 (the r9 default) re-A/B'd here too: warm
    # interleaved at sf0.1, sp=2 2.96/3.02 s vs sp=8 3.19/3.56.
    spark = _streaming_scope(spark, state_partitions=2)
    register_replay_source(spark)
    # Size batches off the parquet footer so the run is always exactly
    # 2 micro-batches at ANY scale factor: per-micro-batch engine +
    # Python-datasource overhead (~2 s each) dominates wall clock, and
    # 2 is the minimum that still exercises the multi-batch offset path
    # (a fixed batch_rows gave 5 batches at sf0.1 while sf0.01
    # degenerated to a single batch). Offset/recovery depth beyond two
    # batches is covered by tests/test_replay_stream.py.
    import pyarrow.parquet as pq

    n_rows = pq.ParquetFile(f"{sf_dir}/documents.parquet").metadata.num_rows
    stream = (
        spark.readStream.format("parquet_replay")
        .option("path", f"{sf_dir}/documents.parquet")
        .option("batch_rows", max(1, -(-n_rows // 2)))
        .load()
    )
    agg = stream.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


# ---------------------------------------------------------------------------
# stream-static enrichment join (oracle-backed since round 7: a
# stream-static inner join over a fully-replayed stream emits exactly
# the static join — no watermark, no state, nothing time-dependent)
# ---------------------------------------------------------------------------

_STREAM_ENRICH_ORACLE = """
SELECT e.user_id, e.event_id, e.event_type, c.c_name, c.c_nationkey
FROM events e JOIN customer c ON e.user_id = c.c_custkey
"""


@register("streaming_static_enrich", oracle=_STREAM_ENRICH_ORACLE)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched against the
    static customer dimension. The static side is broadcast to the
    stream's tasks each micro-batch — no state store involvement at
    all (unlike stream-stream joins), which is why dimension
    enrichment should always join static, not stream, sides.
    Hash-checks against the plain SQL join: replaying the whole stream
    through the engine must reproduce the static result exactly."""
    from clean_census_acs_data_spark.streaming.windows import (
        _events_stream,
        _run_to_memory,
        _streaming_scope,
    )

    spark = _streaming_scope(spark)  # default state partitions, clone-scoped
    ev = _events_stream(spark, sf_dir).select("event_id", "user_id", "event_type")
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_nationkey"
    )
    return _run_to_memory(ev.join(F.broadcast(dim), "user_id"))


# ---------------------------------------------------------------------------
# LEFT-OUTER watermarked stream-stream join — the remaining Structured
# Streaming join shape (streaming_interval_join covers inner): clicks
# left-joined to same-user purchases within 30 minutes. Outer rows are
# *watermark-driven*: an unmatched click can only emit null-padded once
# the watermark proves no matching purchase can still arrive — state
# eviction and result emission are the same event.
# ---------------------------------------------------------------------------


_SSJ_ORACLE = """
WITH cl AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
),
pu AS (
  SELECT user_id AS p_user_id, event_id AS purchase_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
),
wm AS (
  SELECT LEAST(
    (SELECT (epoch_us(MAX(ts)) // 1000) * 1000 FROM events WHERE event_type = 'click'),
    (SELECT (epoch_us(MAX(ts)) // 1000) * 1000 FROM events WHERE event_type = 'purchase')
  ) - 600000000 AS wm_us
),
j AS (
  SELECT cl.user_id, cl.click_id, pu.purchase_id,
         epoch_us(pu.purchase_ts) - epoch_us(cl.click_ts) AS gap_us,
         cl.click_ts
  FROM cl LEFT JOIN pu
    ON cl.user_id = pu.p_user_id
   AND pu.purchase_ts >= cl.click_ts
   AND pu.purchase_ts <= cl.click_ts + INTERVAL 30 MINUTE
)
SELECT user_id, click_id, purchase_id, gap_us
FROM j, wm
WHERE purchase_id IS NOT NULL
   OR epoch_us(click_ts) + 1800000000 <= wm_us
"""


@register("streaming_stream_stream_join", oracle=_SSJ_ORACLE)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with event-time bounds: click and
    purchase streams (both watermarked 10 minutes) joined on user_id
    with purchase_ts in [click_ts, click_ts + 30 min]. Unlike the inner
    form (streaming_interval_join), unmatched clicks emit with null
    purchase columns — but only after the watermark passes their join
    window, because until then a match could still arrive; the same
    watermark bounds the state store. Run with Trigger.AvailableNow
    into a memory sink.

    Oracle-backed since round 7: matched rows are exactly the static
    LEFT JOIN's matches, and a null-padded click emits iff the final
    global watermark — min over both streams of (ms-floored max event
    time − 10 min), Spark's multiple-watermark MIN policy — has passed
    click_ts + 30 min (boundary pinned emit-at-equality, like the
    windowed entries). Both pieces are plain SQL, so the whole output
    hash-checks against DuckDB.

    Scale bound: gap_us is one µs difference, join-bounded to
    [0, 1.8·10⁹]; int64 epoch-µs itself cannot wrap until ~year
    294000 — no µs products or cross-row µs sums."""
    from clean_census_acs_data_spark.streaming.windows import (
        _events_stream,
        _run_to_memory,
        _streaming_scope,
    )

    spark = _streaming_scope(spark)  # default state partitions, clone-scoped
    clicks = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "left_outer",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
            "gap_us"
        ),
    )
    return _run_to_memory(joined, mode="append")


# ---------------------------------------------------------------------------
# streaming Count-Min maintenance (complete-mode sketch state)
# ---------------------------------------------------------------------------

_STREAM_CMS_ORACLE = f"""
WITH cells AS (
  {" UNION ALL ".join(f"SELECT {d} AS depth, {_cms_cell_sql('event_type', d)} AS cell FROM events" for d in range(CMS_D))}
)
SELECT depth, cell, COUNT(*) AS cnt
FROM cells GROUP BY depth, cell
"""


@register("streaming_cms_merge", oracle=_STREAM_CMS_ORACLE)
def streaming_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch maintained BY the streaming engine: the events
    stream's event_type column feeds the same d×w cell matrix as
    token_countmin_sketch, aggregated in complete mode through the
    state store (readStream → stateful agg → memory sink,
    Trigger.AvailableNow).

    Unlike the other streaming entries this one carries a full DuckDB
    oracle: a complete-mode count over a fully-replayed stream is
    batch-equal regardless of micro-batch boundaries, so the final
    sketch is hash-checkable — which is the operational point of CMS as
    streaming state: the sketch a cluster maintains incrementally IS
    the sketch a batch job would have built, and its ≤256-row state
    never grows with the stream."""
    import uuid

    from clean_census_acs_data_spark.streaming.windows import (
        _events_stream,
        _streaming_scope,
    )

    spark = _streaming_scope(spark)  # default state partitions, clone-scoped
    ev = _events_stream(spark, sf_dir)
    cells = F.array(*[_cms_cell(F.col("event_type"), d) for d in range(CMS_D)])
    agg = (
        ev.select(F.posexplode(cells).alias("depth", "cell"))
        .groupBy(F.col("depth").cast("int").alias("depth"), "cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# ---------------------------------------------------------------------------
# streaming log2 histogram — mergeable rank-statistic state, hash-checked
# ---------------------------------------------------------------------------

_STREAM_HIST_ORACLE = """
WITH c AS (SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events)
SELECT CAST(length(bin(cents)) - 1 AS BIGINT) AS bucket, COUNT(*) AS n
FROM c WHERE cents >= 1 GROUP BY 1
"""


@register("streaming_log2_histogram", oracle=_STREAM_HIST_ORACLE)
def streaming_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The log2-bucket histogram (quantile_log2_sketch's partial state)
    maintained BY the streaming engine: events.value in cents buckets
    by integer bit length through a complete-mode stateful count
    (readStream → state store → memory sink, Trigger.AvailableNow).

    Like streaming_cms_merge, complete-mode counts over a fully
    replayed stream are batch-equal regardless of micro-batch
    boundaries, so this streaming entry hash-checks against the batch
    DuckDB oracle — attesting that the histogram a cluster maintains
    incrementally IS the batch histogram, with ≤64 rows of state
    forever."""
    import uuid

    from clean_census_acs_data_spark.streaming.windows import (
        _events_stream,
        _streaming_scope,
    )

    spark = _streaming_scope(spark)  # default state partitions, clone-scoped
    ev = _events_stream(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    agg = (
        ev.select(cents.alias("cents"))
        .where(F.col("cents") >= 1)
        .groupBy((F.length(F.bin("cents")) - 1).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# ---------------------------------------------------------------------------
# streaming complete-mode top-k (third hash-checked streaming entry)
# ---------------------------------------------------------------------------

_STREAM_TOPK_ORACLE = """
SELECT event_type, COUNT(*) AS n
FROM events GROUP BY event_type
ORDER BY n DESC, event_type LIMIT 5
"""


@register("streaming_topk_complete", oracle=_STREAM_TOPK_ORACLE)
def streaming_topk_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 event types BY COUNT maintained by the streaming engine:
    complete-mode stateful count + ORDER BY + LIMIT (sort-limit is
    legal in complete mode precisely because the engine re-emits the
    whole result each micro-batch). Under full replay the final table
    is batch-equal, so it hash-checks — the leaderboard a cluster
    maintains incrementally IS the batch leaderboard."""
    import uuid

    from clean_census_acs_data_spark.streaming.windows import (
        _events_stream,
        _streaming_scope,
    )

    spark = _streaming_scope(spark)  # default state partitions, clone-scoped
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("event_type"))
        .limit(5)
    )
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# ---------------------------------------------------------------------------
# streaming HLL register maintenance (complete-mode MAX state)
# ---------------------------------------------------------------------------

_STREAM_HLL_ORACLE = f"""
WITH h AS (
  SELECT {H15.format(x="CAST(user_id AS VARCHAR)")} AS h FROM events
),
b AS (SELECT h % 64 AS bucket, h // 64 AS rem FROM h)
SELECT bucket,
       CAST(MAX(CASE WHEN rem > 0 THEN 55 - length(bin(rem)) ELSE 55 END)
            AS BIGINT) AS m_j
FROM b GROUP BY bucket
"""


@register("streaming_hll_registers", oracle=_STREAM_HLL_ORACLE)
def streaming_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic-HLL register table maintained BY the streaming
    engine: events.user_id hashes feed a complete-mode MAX-per-bucket
    aggregation through the state store (≤64 rows of state, forever).
    Register merge = max is exactly what makes HLL state streamable;
    max is order-insensitive, so the fully-replayed stream's registers
    are batch-equal and the entry hash-checks. Estimation on top of
    these registers is hll_deterministic_estimate — together they are
    the full incremental-distinct-count story under the hash gate."""
    import uuid

    from clean_census_acs_data_spark.streaming.windows import (
        _events_stream,
        _streaming_scope,
    )

    spark = _streaming_scope(spark)  # default state partitions, clone-scoped
    ev = _events_stream(spark, sf_dir)
    h = X.md5_long(F.col("user_id").cast("string"))
    b = ev.select(h.alias("h")).select(
        (F.col("h") % 64).alias("bucket"), F.expr("h div 64").alias("rem")
    )
    agg = b.select(
        "bucket",
        F.when(F.col("rem") > 0, F.lit(55) - F.length(F.bin("rem")))
        .otherwise(F.lit(55))
        .alias("rho"),
    ).groupBy("bucket").agg(F.max("rho").cast("long").alias("m_j"))
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


_STREAM_BITMAP_ORACLE = f"""
SELECT event_type,
       user_id // {_BM_WORD} AS word_idx,
       CAST(bit_or(CAST(1 AS BIGINT) << CAST(user_id % {_BM_WORD} AS INT))
            AS BIGINT) AS bitmap_word
FROM events
GROUP BY event_type, user_id // {_BM_WORD}
"""


@register("streaming_bitmap_index", oracle=_STREAM_BITMAP_ORACLE)
def streaming_bitmap_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type user bitmap maintained BY the streaming engine:
    complete-mode bit_or over (event_type, 63-user word). OR-state is
    the friendliest streaming aggregate of all — idempotent, so
    at-least-once redelivery is harmless, and mergeable, so shards OR
    independently. The replayed stream's words are batch-equal, hence
    this hash-checks against the batch oracle (fifth hash-checked
    streaming entry; the batch twin is bitmap_index_status)."""
    from clean_census_acs_data_spark.streaming.windows import (
        _events_stream,
        _streaming_scope,
    )

    spark = _streaming_scope(spark)  # default state partitions, clone-scoped
    ev = _events_stream(spark, sf_dir)
    bit = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(user_id % {_BM_WORD} AS INT))"
    )
    agg = ev.groupBy(
        "event_type", F.expr(f"user_id div {_BM_WORD}").alias("word_idx")
    ).agg(F.bit_or(bit).cast("long").alias("bitmap_word"))
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


_STREAM_KMV_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT {H15.format(x="CAST(user_id AS VARCHAR)")} AS h FROM events
)
SELECT h FROM h ORDER BY h LIMIT {_KMV_K}
"""


@register("streaming_kmv_state", oracle=_STREAM_KMV_ORACLE)
def streaming_kmv_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV bottom-{_KMV_K} hash list maintained BY the streaming
    engine: complete-mode DISTINCT aggregation on the 60-bit user-id
    hash, then ORDER BY + LIMIT (legal in complete mode). Bottom-k is
    a semilattice (merge = union, keep k smallest) and the hash set is
    order-insensitive, so full replay is batch-equal and the entry
    hash-checks. Estimation on top of this state is
    distinct_kmv_estimate — with streaming_hll_registers this closes
    the incremental-distinct story for BOTH sketch families."""
    from clean_census_acs_data_spark.streaming.windows import (
        _events_stream,
        _streaming_scope,
    )

    spark = _streaming_scope(spark)  # default state partitions, clone-scoped
    ev = _events_stream(spark, sf_dir)
    h = ev.select(X.md5_long(F.col("user_id").cast("string")).alias("h"))
    agg = (
        h.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__n"))
        .select("h")
        .orderBy("h")
        .limit(_KMV_K)
    )
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# ---------------------------------------------------------------------------
# streaming MinHash register maintenance (complete-mode MIN state)
# ---------------------------------------------------------------------------

_STREAM_MINHASH_ORACLE = f"""
WITH h AS (
  SELECT {H15.format(x="CAST(user_id AS VARCHAR)")} % {MINHASH_M} AS h
  FROM events
)
SELECT i, CAST(MIN(CASE
{chr(10).join(f"          WHEN i = {i} THEN ({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_M}" for i in range(8))}
        END) AS BIGINT) AS register
FROM h, (SELECT unnest(range(0, 8)) AS i)
GROUP BY i
"""


@register("streaming_minhash_registers", oracle=_STREAM_MINHASH_ORACLE)
def streaming_minhash_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-level MinHash signature (8 affine-remixed 31-bit min
    registers over the set of user ids) maintained BY the streaming
    engine: a complete-mode MIN-per-function aggregation holding ≤8
    rows of state forever. Min is a semilattice (idempotent,
    commutative, associative) — replay order cannot change the
    registers, so the streamed result is batch-equal and hash-checks
    against the DuckDB twin; seventh entry in the streamable-algebra
    family (count / max / OR / bottom-k / sort-limit / CMS / min).

    Two live signatures of different corpora estimate their Jaccard by
    register agreement (minhash_estimate_audit is the batch
    calibration of exactly that estimator)."""
    import uuid

    from clean_census_acs_data_spark.streaming.windows import (
        _events_stream,
        _streaming_scope,
    )

    spark = _streaming_scope(spark)  # default state partitions, clone-scoped
    ev = _events_stream(spark, sf_dir)
    h = (X.md5_long(F.col("user_id").cast("string")) % MINHASH_M).alias("h")
    fns = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("i"),
                (
                    (F.lit(MINHASH_A[i]) * F.col("h") + F.lit(MINHASH_B[i]))
                    % MINHASH_M
                ).alias("hv"),
            )
            for i in range(8)
        ]
    )
    b = (
        ev.select(h)
        .select(F.explode(fns).alias("f"))
        .select(F.col("f.i").alias("i"), F.col("f.hv").alias("hv"))
    )
    agg = b.groupBy("i").agg(F.min("hv").cast("long").alias("register"))
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# ---------------------------------------------------------------------------
# streaming OHLC maintenance (complete-mode struct-min/max state)
# ---------------------------------------------------------------------------


@register("streaming_ohlc_state", oracle=_OHLC_ORACLE)
def streaming_ohlc_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OHLC bar table maintained BY the streaming engine:
    complete-mode min/max aggregation where open/close are struct
    min/max over (µs, event_id, value) — argmin/argmax-by-time as
    pure semilattice state, so the replayed stream's bars are
    batch-equal and the entry hash-checks against the same oracle as
    ohlc_bars_hourly. Eighth hash-checked streaming algebra
    (count / max / OR / bottom-k / sort-limit / CMS / min / lexical
    struct-extrema): the live ticker-bar pipeline, per-key state is
    five longs forever.

    Scale bound: lexical struct ordering, no key arithmetic — same
    overflow-free rationale as ohlc_bars_hourly (the µs·4096 packing
    it replaced died at epoch-µs ≥ 2^63/4096, May 2041)."""
    import uuid

    from clean_census_acs_data_spark.streaming.windows import _streaming_scope

    # rebind: the memory-sink temp view registers on the session that
    # starts the query, so the scoped clone must be the one we read from
    spark = _streaming_scope(spark)
    ev = _events_stream_helper(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    e = ev.select(
        "user_id",
        F.expr(f"unix_micros(ts) div {_US_HOUR}").alias("hour_bucket"),
        cents.alias("cents"),
        F.unix_micros("ts").alias("us"),
        F.col("event_id").alias("eid"),
    )
    agg = (
        e.groupBy("user_id", "hour_bucket")
        .agg(
            F.min(F.struct("us", "eid", "cents")).alias("__first"),
            F.max("cents").cast("long").alias("high_cents"),
            F.min("cents").cast("long").alias("low_cents"),
            F.max(F.struct("us", "eid", "cents")).alias("__last"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select(
            "user_id",
            F.col("hour_bucket").cast("long"),
            F.col("__first.cents").cast("long").alias("open_cents"),
            "high_cents",
            "low_cents",
            F.col("__last.cents").cast("long").alias("close_cents"),
            "n_events",
        )
    )
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _events_stream_helper(spark: SparkSession, sf_dir: str):
    from clean_census_acs_data_spark.streaming.windows import _events_stream

    return _events_stream(spark, sf_dir)


@register("streaming_rate_limiter")  # rows-only check
def streaming_rate_limiter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second custom stateful operator: per-user EVENT-TIME token
    bucket (capacity 5, one token per 10 minutes) over the staged
    deterministic micro-batch replay — admission depends on the running
    balance, which no built-in windowed aggregate expresses
    (streaming/stateful.py: integer µtoken state, exact and
    replay-deterministic). Emits admitted events with their
    post-admission balance; semantics + determinism pinned in
    tests/test_streaming.py."""
    from clean_census_acs_data_spark.streaming.stateful import (
        rate_limit_events_availablenow,
    )

    return rate_limit_events_availablenow(spark, sf_dir)


@register("streaming_cusum_monitor")  # rows-only check
def streaming_cusum_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third custom stateful operator: per-metric streaming CUSUM
    drift monitor over the staged deterministic micro-batch replay —
    S = max(0, S + (value_cents − k)) carried across batches in exact
    integer state, alarms at S > h the moment a batch closes
    (streaming/stateful.py:cusum_with_state). The batch twin
    cusum_changepoint proves the closed form against a DuckDB oracle;
    this operator is the unbounded-stream form, cross-checked against
    that closed form and for replay determinism in
    tests/test_streaming_cusum.py."""
    from clean_census_acs_data_spark.streaming.stateful import (
        cusum_events_availablenow,
    )

    return cusum_events_availablenow(spark, sf_dir)
