"""Event-time series: tumbling/sliding/session windows, sessionization,
as-of and range joins, intervals and sweeps, sequences and streaks,
seasonality, anomalies, changepoints, forecasting baselines and
finance-style bars over the events table.

Calendar arithmetic is done on integer epoch µs (no calendar functions
where engines disagree, e.g. day-of-week numbering), and the batch
window entries define the event-time semantics the streaming domain is
checked against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clean_census_acs_data_spark.functions import cents
from clean_census_acs_data_spark.io import register_views
from clean_census_acs_data_spark.operators.asof import asof_join, range_count_join
from clean_census_acs_data_spark.registry import _t, register
from clean_census_acs_data_spark.streaming import windows as W


# ---------------------------------------------------------------------------
# event-time windows (batch semantics, oracle-checked)
# ---------------------------------------------------------------------------


@register(
    "tumbling_window_agg",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts)                   AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event type. Epoch-aligned buckets on
    both engines; one shuffle after partial agg."""
    return W.tumbling_agg(_t(spark, sf_dir, "events"), "1 hour")


@register(
    "sliding_window_agg",
    oracle="""
    WITH w AS (
      SELECT e.*, time_bucket(INTERVAL '15 minutes', ts) - k.k * INTERVAL '15 minutes'
               AS window_start
      FROM events e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
    )
    SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM w
    GROUP BY 1, 2
    """,
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min: each event lands in exactly
    window/slide = 4 windows (Spark's Expand). Event amplification is
    the scale cost — slide ratio is the knob."""
    return W.sliding_agg(_t(spark, sf_dir, "events"), "1 hour", "15 minutes")


@register(
    "session_window_agg",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 6 HOUR
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      -- ORDER BY (ts, event_id) mirrors the lag window above: new_s was
      -- computed in that order, so summing in any other tie order could
      -- misassign sid across tied timestamps (ADVICE r7)
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           MIN(ts)                      AS session_start,
           MAX(ts) + INTERVAL 6 HOUR    AS session_end,
           COUNT(*)                     AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM s
    GROUP BY user_id, sid
    """,
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-hour-gap session windows per user (session end = last event +
    gap). The oracle derives identical sessions with gaps-and-islands
    SQL. Spark's session_window shuffles once on user_id then merges
    sorted runs — O(1) state per open session."""
    return W.session_agg(_t(spark, sf_dir, "events"), "6 hours")


# ---------------------------------------------------------------------------
# as-of + range joins
# ---------------------------------------------------------------------------


@register(
    "asof_join_last_click",
    oracle="""
    WITH pur AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    cl AS (SELECT user_id, ts, MIN(event_id) AS click_id
           FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
    SELECT p.event_id, p.user_id, p.ts,
           c.ts       AS asof_ts,
           c.click_id AS asof_click_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM pur p
    ASOF LEFT JOIN cl c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gains the user's most recent click at
    or before it. Spark has no native ASOF — implemented as
    union→sort→last-carry-forward (operators/asof.py): one shuffle, no
    range explosion, works at any scale. Clicks pre-deduped per
    (user, ts) so tie resolution is deterministic on both engines.

    Scale bound: gap_us is a single µs difference bounded by the data's time-span; no µs products or cross-row µs sums — int64 epoch-µs is safe to ~year 294000."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("click_id"))
    )
    joined = asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts", right_payload=["click_id"]
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "asof_ts",
        "asof_click_id",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("asof_ts"))).alias("gap_us"),
    )


@register(
    "range_join_recent_clicks",
    oracle="""
    WITH pur AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    cl AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT COUNT(*) FROM cl c
            WHERE c.user_id = p.user_id
              AND epoch_us(c.ts) > epoch_us(p.ts) - 3600000000
              AND epoch_us(c.ts) < epoch_us(p.ts)) AS n_recent_clicks
    FROM pur p
    """,
)
def range_join_recent_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join: clicks in the hour before each purchase.
    Implemented as a time-bucketed equi-join (each purchase probes 2
    buckets) — never an inequality join, so the plan is
    shuffle-hash-joinable and linear at scale.

    Scale bound: the only integer arithmetic is epoch-µs minus the
    3.6·10⁹ µs window — int64 epoch-µs cannot wrap until ~year 294000
    and the offset cannot underflow for any post-1970-01-01T01:00
    timestamp; counts are plain int64 COUNTs."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    return range_count_join(
        purchases,
        clicks,
        key="user_id",
        window_us=3_600_000_000,
        out_col="n_recent_clicks",
    )


# ---------------------------------------------------------------------------
# time-series: hourly resample + gap fill + forward fill
# ---------------------------------------------------------------------------


@register(
    "gap_fill_forward",
    oracle="""
    WITH ev AS (SELECT * FROM events WHERE user_id < 5),
    hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents,
             COUNT(*) AS n_events
      FROM ev GROUP BY user_id, date_trunc('hour', ts)
    ),
    spine_hours AS (
      SELECT unnest(generate_series(
        (SELECT date_trunc('hour', MIN(ts)) FROM ev),
        (SELECT date_trunc('hour', MAX(ts)) FROM ev),
        INTERVAL 1 HOUR)) AS h
    ),
    spine AS (
      SELECT u.user_id, s.h
      FROM (SELECT DISTINCT user_id FROM ev) u, spine_hours s
    )
    SELECT spine.user_id, spine.h,
           COALESCE(hourly.n_events, 0) AS n_events,
           last_value(hourly.cents IGNORE NULLS) OVER (
             PARTITION BY spine.user_id ORDER BY spine.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_cents
    FROM spine LEFT JOIN hourly
      ON spine.user_id = hourly.user_id AND spine.h = hourly.h
    """,
)
def gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample: bucket events hourly, build the dense
    user×hour spine (sequence + explode — the hypertable-rollup shape),
    left-join observations, forward-fill gaps with
    last(ignorenulls) over an ordered frame. The spine cross join is
    |users|·|hours| rows *by definition of the output* — at scale the
    spine generates per-partition (explode of a per-user sequence),
    never a shuffled cartesian; the only shuffle is the final window by
    user."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 5)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.sum(cents("value")).alias("cents"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    # per-user spine: explode a per-row sequence — a Generate, not a
    # shuffled cartesian (each user row expands locally)
    users = ev.select("user_id").distinct()
    spine = (
        users.join(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            "h",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("cents", ignorenulls=True).over(w).alias("filled_cents"),
        )
    )


# ---------------------------------------------------------------------------
# batch sessionization (lag + cumulative sum) — oracle-checked twin of the
# streaming stateful sessionizer
# ---------------------------------------------------------------------------

_SESSIONIZE_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS value_cents,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id, ts, event_id, value_cents,
         CAST(SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id, session_id,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(value_cents) AS BIGINT) AS value_cents
FROM sess
GROUP BY user_id, session_id
"""


@register("sessionize_lag_cumsum", oracle=_SESSIONIZE_ORACLE)
def sessionize_lag_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a gap > 30 min starts a new session; the
    session id is the running count of session starts (lag + cumulative
    sum over one window partition). The oracle-checked twin of the
    applyInPandasWithState streaming sessionizer — same session bounds,
    derivable in pure SQL. One shuffle on user_id serves both windows
    and the final group-by (same partitioning reused across stages).

    Scale bound: the only integer arithmetic is one epoch-µs
    difference per row compared to 1.8·10⁹ — int64 epoch-µs cannot
    wrap until ~year 294000 and no µs values are multiplied or
    summed across rows."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        cents("value").alias("value_cents"),
        F.when(
            F.lag("ts").over(w).isNull()
            # exact µs comparison: cast("long") truncates to whole
            # seconds and disagrees with the oracle's INTERVAL compare
            # for gaps inside (1800s, 1801s) when timestamps carry
            # sub-second parts (this data: always)
            | (
                F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
                > 30 * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = marked.withColumn(
        "session_id", F.sum("new_session").over(wrun).cast("long")
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").alias("value_cents"),
    )


# ---------------------------------------------------------------------------
# forward as-of join
# ---------------------------------------------------------------------------


@register(
    "asof_join_next_click",
    oracle="""
    WITH pur AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    cl AS (SELECT user_id, ts, MIN(event_id) AS click_id
           FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
    SELECT p.event_id, p.user_id, p.ts,
           c.ts       AS asof_ts,
           c.click_id AS asof_click_id
    FROM pur p
    ASOF LEFT JOIN cl c ON p.user_id = c.user_id AND p.ts <= c.ts
    """,
)
def asof_join_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each purchase gains the user's EARLIEST
    click at or after it (post-purchase behavior attribution). Same
    join-free union-sort-carry plan as the backward form with the
    frame flipped to first-over-following; clicks pre-deduped per
    (user, ts) so tie resolution is deterministic on both engines."""
    from clean_census_acs_data_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("click_id"))
    )
    return asof_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["click_id"],
        direction="forward",
    )


# ---------------------------------------------------------------------------
# Interval-overlap self-join — temporal join family (with as-of and
# range-count): pairs of same-user events whose 5-minute activity
# intervals overlap, with the exact overlap duration.
# ---------------------------------------------------------------------------

_OVERLAP_US = 5 * 60 * 1_000_000

_INTERVAL_ORACLE = f"""
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s, epoch_us(ts) + {_OVERLAP_US} AS e
  FROM events
)
SELECT a.user_id,
       a.event_id AS event_a,
       b.event_id AS event_b,
       CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT) AS overlap_us
FROM iv a JOIN iv b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND a.s <= b.e AND b.s <= a.e
"""


@register("interval_overlap_join", oracle=_INTERVAL_ORACLE)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: same-user events whose [ts, ts+5min]
    activity intervals intersect, with exact overlap in microseconds
    (integer arithmetic end-to-end).

    Scale shape (VERDICT r2 #3): the equi-key is (user_id, time_bucket),
    not user_id alone. All intervals have fixed width W, so two overlap
    only if their start buckets (floor(s/W)) differ by at most 1; each
    side replicates into buckets {b, b+1} (a 2x copy of four longs) and
    a qualifying pair is kept only where the join bucket equals
    max(bucket_a, bucket_b), so it survives exactly once. Candidate
    pairs per task are bounded by events-per-(user, 5 minutes) — a
    power user with 10^6 events no longer produces a quadratic task,
    matching operators/asof.py::range_count_join's decomposition.

    Scale bound: interval ends are epoch-µs + 3·10⁸ and overlaps are
    single µs differences — int64 epoch-µs cannot wrap until ~year
    294000; no µs products or cross-row µs sums."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(_OVERLAP_US)).alias("e"),
        F.expr(f"unix_micros(ts) div {_OVERLAP_US}").alias("bkt"),
    )
    expl = ev.withColumn(
        "k", F.explode(F.array(F.col("bkt"), F.col("bkt") + F.lit(1)))
    )
    a, b = expl.alias("a"), expl.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.k") == F.col("b.k"))
            & (F.col("a.k") == F.greatest(F.col("a.bkt"), F.col("b.bkt")))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("event_a"),
            F.col("b.event_id").alias("event_b"),
            (
                F.least(F.col("a.e"), F.col("b.e"))
                - F.greatest(F.col("a.s"), F.col("b.s"))
            )
            .cast("long")
            .alias("overlap_us"),
        )
    )


# ---------------------------------------------------------------------------
# first-order Markov transition matrix over event types
# ---------------------------------------------------------------------------

_MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
tr AS (
  SELECT prev_type AS from_type, event_type AS to_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
),
tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_total FROM tr GROUP BY from_type)
SELECT tr.from_type, tr.to_type, CAST(tr.n AS BIGINT) AS n,
       CAST(tr.n AS DOUBLE) / CAST(tot.row_total AS DOUBLE) AS prob
FROM tr JOIN tot USING (from_type)
"""


@register("markov_transition_counts", oracle=_MARKOV_ORACLE)
def markov_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix: per-user sequences (total order:
    ts then event_id) yield LAG pairs; counts aggregate globally and
    each row normalizes to P(to | from) with one double division.

    Shape: one user-keyed window shuffle (sequences are user-local —
    never a global sort), then a |types|²-bounded aggregate; row totals
    come from a SUM window OVER the ≤|types|² aggregate itself (r12
    optimization, guide §2.4/§1.2: the former tracked_cache + eager
    count + broadcast-join-back derived the same totals but paid the
    lag-window pipeline twice — once to fill the cache, once at the
    terminal action; the window form is one single-pass plan, 16
    Exchange → 3, and the extra exchange it adds shuffles ≤25 rows).
    At 100 TB the window partitioning is the natural event-log layout
    and the matrix stays KB-sized."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = _t(spark, sf_dir, "events").select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    tr = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_total = F.sum("n").over(Window.partitionBy("from_type"))
    return tr.select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n"),
        (F.col("n").cast("double") / row_total.cast("double")).alias("prob"),
    )


# ---------------------------------------------------------------------------
# per-user inter-event gap statistics (exact integer microseconds)
# ---------------------------------------------------------------------------

_INTEREVENT_ORACLE = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)) AS gap_us
  FROM events
)
SELECT user_id,
       COUNT(*) AS n_gaps,
       CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
       CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
       CAST(SUM(gap_us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_gap_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY user_id
"""


@register("user_interevent_stats", oracle=_INTEREVENT_ORACLE)
def user_interevent_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event-gap features in exact integer µs: gap
    count, sum, min, max, and mean (single post-agg division). Burst
    detection (tiny min gaps = scripted traffic) and engagement decay
    (large max gaps) read straight off this table.

    One user-keyed window for LAG, then a partial agg on the same key
    — Spark reuses the window's hash partitioning for the groupBy, so
    the whole feature block is a single shuffle.

    Scale bound: per-user Σ gap_µs telescopes to the user's first-to-last span (< 2^63 µs ≈ 292k years); no µs products or squares."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = _t(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))).alias(
            "gap_us"
        ),
    )
    return (
        g.where(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap_us").cast("long").alias("sum_gap_us"),
            F.min("gap_us").cast("long").alias("min_gap_us"),
            F.max("gap_us").cast("long").alias("max_gap_us"),
            (
                F.sum("gap_us").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("mean_gap_us"),
        )
    )


# ---------------------------------------------------------------------------
# as-of linear interpolation (join-free union-sort-carry, both directions)
# ---------------------------------------------------------------------------
_INTERP_ORACLE = """
WITH cl AS (
  SELECT user_id, ts, arg_min(value, event_id) AS cv
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
vw AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
u AS (
  SELECT user_id, ts, CAST(NULL AS BIGINT) AS event_id, cv, 1 AS is_click FROM cl
  UNION ALL
  SELECT user_id, ts, event_id, CAST(NULL AS DOUBLE) AS cv, 0 AS is_click FROM vw
),
carried AS (
  SELECT user_id, ts, event_id, is_click,
         LAST_VALUE(CASE WHEN is_click = 1 THEN ts END IGNORE NULLS)
           OVER w_prev AS prev_ts,
         LAST_VALUE(cv IGNORE NULLS) OVER w_prev AS prev_v,
         FIRST_VALUE(CASE WHEN is_click = 1 THEN ts END IGNORE NULLS)
           OVER w_next AS next_ts,
         FIRST_VALUE(cv IGNORE NULLS) OVER w_next AS next_v
  FROM u
  WINDOW
    w_prev AS (PARTITION BY user_id
               ORDER BY ts, is_click DESC, COALESCE(event_id, -1)
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_next AS (PARTITION BY user_id
               ORDER BY ts, is_click DESC, COALESCE(event_id, -1)
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT event_id, user_id, ts, prev_ts, next_ts,
       prev_v + (next_v - prev_v)
         * (CAST(epoch_us(ts) - epoch_us(prev_ts) AS DOUBLE)
            / CAST(epoch_us(next_ts) - epoch_us(prev_ts) AS DOUBLE)) AS v_interp
FROM carried
WHERE is_click = 0 AND prev_ts IS NOT NULL AND next_ts IS NOT NULL
"""


@register("asof_interpolate", oracle=_INTERP_ORACLE)
def asof_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation enrichment: every 'view' event gains the
    value linearly interpolated between the user's bracketing 'click'
    events — the sensor/financial resampling primitive (mark a sparse
    series onto another series' timestamps).

    Join-free, like asof_join_last_click: clicks and views union into
    one stream, ONE user-keyed sort carries the previous click
    (backward window) and next click (forward window) past every view
    — no range join, no per-pair expansion, scale-invariant. Clicks
    pre-deduped per (user, ts) by arg-min event_id so tie resolution
    is deterministic; interpolation is one pinned double expression
    over exact integer microseconds.

    Scale bound: interpolation weights are µs differences cast to double BEFORE multiplying — no integer µs products; int64 epoch-µs safe to ~year 294000."""
    ev = _t(spark, sf_dir, "events")
    cl = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.min_by("value", "event_id").alias("cv"))
    )
    vw = ev.where(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    u = cl.select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("event_id"),
        "cv",
        F.lit(1).alias("is_click"),
    ).unionAll(
        vw.select(
            "user_id",
            "ts",
            "event_id",
            F.lit(None).cast("double").alias("cv"),
            F.lit(0).alias("is_click"),
        )
    )
    order = [
        F.col("ts").asc(),
        F.col("is_click").desc(),
        F.coalesce("event_id", F.lit(-1)).asc(),
    ]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    click_ts = F.when(F.col("is_click") == 1, F.col("ts"))
    carried = u.select(
        "user_id",
        "ts",
        "event_id",
        "is_click",
        F.last(click_ts, ignorenulls=True).over(w_prev).alias("prev_ts"),
        F.last("cv", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.first(click_ts, ignorenulls=True).over(w_next).alias("next_ts"),
        F.first("cv", ignorenulls=True).over(w_next).alias("next_v"),
    )
    frac = (
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts"))).cast("double")
        / (
            F.unix_micros(F.col("next_ts")) - F.unix_micros(F.col("prev_ts"))
        ).cast("double")
    )
    return (
        carried.where(
            (F.col("is_click") == 0)
            & F.col("prev_ts").isNotNull()
            & F.col("next_ts").isNotNull()
        )
        .select(
            "event_id",
            "user_id",
            "ts",
            "prev_ts",
            "next_ts",
            (F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac).alias(
                "v_interp"
            ),
        )
    )


# ---------------------------------------------------------------------------
# seasonality profile (integer epoch arithmetic — no calendar functions)
# ---------------------------------------------------------------------------

_US_DAY = 86_400_000_000
_US_HOUR = 3_600_000_000

_SEASONALITY_ORACLE = f"""
WITH e AS (SELECT epoch_us(ts) AS u FROM events),
k AS (
  SELECT (u // {_US_DAY} + 4) % 7 AS dow,
         (u // {_US_HOUR}) % 24 AS hour
  FROM e
),
per AS (SELECT dow, hour, COUNT(*) AS n_events FROM k GROUP BY dow, hour),
tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM per)
SELECT CAST(dow AS BIGINT) AS dow, CAST(hour AS BIGINT) AS hour,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_events AS DOUBLE) / CAST(tot.total AS DOUBLE) AS share
FROM per CROSS JOIN tot
"""


@register("event_seasonality_profile", oracle=_SEASONALITY_ORACLE)
def event_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour event-count matrix with traffic shares — the
    seasonality baseline anomaly detectors and capacity planners diff
    live traffic against. dow/hour derive from integer division of the
    epoch (1970-01-01 was a Thursday, hence the +4 → Sunday=0), NOT
    from calendar functions, because engines disagree on dow numbering
    (Spark 1-7 Sunday-first, DuckDB 0-6) and the integer form is
    portable by construction.

    One scan, one ≤168-group partial agg, broadcast 1-row total — the
    profile costs a sketch regardless of stream size.

    Scale bound: µs enters only div/mod bucket math (no products); per-cell counts sum to the total row count — int64 to 9.2·10¹⁸ events."""
    k = _t(spark, sf_dir, "events").select(
        F.expr(f"(unix_micros(ts) div {_US_DAY} + 4) % 7").alias("dow"),
        F.expr(f"(unix_micros(ts) div {_US_HOUR}) % 24").alias("hour"),
    )
    per = k.groupBy("dow", "hour").agg(F.count(F.lit(1)).alias("n_events"))
    tot = per.agg(F.sum("n_events").cast("long").alias("total"))
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("dow").cast("long").alias("dow"),
        F.col("hour").cast("long").alias("hour"),
        F.col("n_events").cast("long").alias("n_events"),
        (F.col("n_events").cast("double") / F.col("total").cast("double")).alias(
            "share"
        ),
    )


_ANOMALY_ORACLE = f"""
WITH k AS (
  SELECT epoch_us(ts) // {_US_DAY} AS day,
         (epoch_us(ts) // {_US_HOUR}) % 24 AS hour
  FROM events
),
per AS (
  SELECT day, (day + 4) % 7 AS dow, hour, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM k GROUP BY day, hour
),
days AS (
  SELECT dow, CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
  FROM per GROUP BY dow
),
base AS (
  SELECT dow, hour, CAST(SUM(n_events) AS BIGINT) AS total
  FROM per GROUP BY dow, hour
)
SELECT CAST(per.day AS BIGINT) AS day, CAST(per.hour AS BIGINT) AS hour,
       per.n_events,
       CAST(abs(per.n_events * days.n_days - base.total) AS BIGINT) AS dev_scaled
FROM per
JOIN base ON base.dow = per.dow AND base.hour = per.hour
JOIN days ON days.dow = per.dow
ORDER BY dev_scaled DESC, day, hour
LIMIT 20
"""


@register("seasonal_anomaly_hours", oracle=_ANOMALY_ORACLE)
def seasonal_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 most anomalous (day, hour) traffic buckets, scored
    against the dow×hour seasonality baseline
    (event_seasonality_profile): dev = |n·D − T| where n is the
    bucket's count, T the all-time total for its (dow, hour) cell and
    D the number of days carrying that dow — an exact integer
    cross-product form of |n − T/D| (no division, no doubles, no
    engine drift). Same calendar-free epoch arithmetic as the
    baseline (Thursday-epoch +4 trick).

    One scan → per-(day, hour) partial agg (the only data shuffle);
    baseline and day-counts reduce FROM that agg (sketch-sized), and
    both join back broadcast. Top-20 via TakeOrderedAndProject.

    Scale bound: the deviation term n_events·n_days wraps int64 at total_events·n_days ≥ 2^63 — ~2.5·10¹⁵ events over a 10-year window; widen to DECIMAL(38,0) past that. All other terms are counts."""
    k = _t(spark, sf_dir, "events").select(
        F.expr(f"unix_micros(ts) div {_US_DAY}").alias("day"),
        F.expr(f"(unix_micros(ts) div {_US_HOUR}) % 24").alias("hour"),
    )
    per = (
        k.groupBy("day", "hour")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .withColumn("dow", (F.col("day") + 4) % 7)
    )
    days = per.groupBy("dow").agg(
        F.countDistinct("day").cast("long").alias("n_days")
    )
    base = per.groupBy("dow", "hour").agg(
        F.sum("n_events").cast("long").alias("total")
    )
    return (
        per.join(F.broadcast(base), ["dow", "hour"])
        .join(F.broadcast(days), "dow")
        .select(
            F.col("day").cast("long"),
            F.col("hour").cast("long"),
            "n_events",
            F.abs(F.col("n_events") * F.col("n_days") - F.col("total"))
            .cast("long")
            .alias("dev_scaled"),
        )
        .orderBy(F.desc("dev_scaled"), F.asc("day"), F.asc("hour"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# event-path trigram mining
# ---------------------------------------------------------------------------

_PATH_TRIGRAM_ORACLE = """
WITH o AS (
  SELECT user_id, event_type,
         LAG(event_type, 1) OVER w AS t1,
         LAG(event_type, 2) OVER w AS t2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT t2 AS step1, t1 AS step2, event_type AS step3,
       CAST(COUNT(*) AS BIGINT) AS n_paths
FROM o WHERE t2 IS NOT NULL
GROUP BY t2, t1, event_type
ORDER BY n_paths DESC, step1, step2, step3
LIMIT 20
"""


@register("event_path_trigrams", oracle=_PATH_TRIGRAM_ORACLE)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 most common 3-step event-type paths across user
    timelines (sequence mining): the n=3 extension of
    markov_transition_counts, read to spot dominant journeys
    (view→click→purchase) and pathological loops (error→error→error).

    One user-keyed window (the sessionization shuffle the event tier
    already pays), two LAGs, a ≤|types|³-group agg, heap top-20 with a
    total ordering. Timestamp ties break on event_id in both engines
    so the lagged sequence is identical."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = _t(spark, sf_dir, "events").select(
        F.lag("event_type", 2).over(w).alias("step1"),
        F.lag("event_type", 1).over(w).alias("step2"),
        F.col("event_type").alias("step3"),
    )
    return (
        o.where(F.col("step1").isNotNull())
        .groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
        .orderBy(
            F.desc("n_paths"), F.asc("step1"), F.asc("step2"), F.asc("step3")
        )
        .limit(20)
    )


# ---------------------------------------------------------------------------
# open-order backlog sweep line
# ---------------------------------------------------------------------------

_SWEEP_ORACLE = """
WITH closes AS (
  SELECT l_orderkey, MAX(l_shipdate) AS close_date
  FROM lineitem GROUP BY l_orderkey
),
deltas AS (
  SELECT o_orderdate AS day, 1 AS delta
  FROM orders JOIN closes ON closes.l_orderkey = o_orderkey
  UNION ALL
  SELECT close_date + INTERVAL 1 DAY AS day, -1 AS delta
  FROM orders JOIN closes ON closes.l_orderkey = o_orderkey
),
per AS (SELECT CAST(day AS DATE) AS day, CAST(SUM(delta) AS BIGINT) AS d
        FROM deltas GROUP BY day)
SELECT day,
       CAST(SUM(d) OVER (ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS open_orders
FROM per
"""


@register("open_orders_sweep", oracle=_SWEEP_ORACLE)
def open_orders_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog: an order is open from its placement
    date through its last line shipment. Computed as a sweep line —
    +1 delta at placement, −1 the day after close, per-day delta agg,
    then a prefix sum over the ~2 500-row day series — NOT as a
    day×order interval-stabbing join (which is O(days·orders) and the
    classic accidental quadratic in backlog reports).

    Shapes: one per-order agg for close dates (map-side combined), a
    narrow join back to orders, a tiny per-day agg, and a running sum
    whose single-partition window runs over the day-count-sized
    aggregate — same discipline as pareto_8020_concentration. At
    100 TB only the first two steps touch fact data.

    r12: both deltas of an order are emitted IN-ROW (explode of a
    2-struct array) instead of a self-union of the joined frame — the
    union's two branches each re-derived the whole closes-aggregate +
    join pipeline (4 parquet scans / 2 joins → 2 / 1 in the committed
    plans), and the (day, delta) multiset they produce is identical by
    construction."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    closes = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("close_date"))
    j = o.join(closes, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "o_orderdate", "close_date"
    )
    deltas = j.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("o_orderdate").alias("day"),
                    F.lit(1).alias("delta"),
                ),
                F.struct(
                    F.date_add("close_date", 1).alias("day"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("dd")
    ).select("dd.day", "dd.delta")
    per = deltas.groupBy("day").agg(F.sum("delta").cast("long").alias("d"))
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per.select(
        "day", F.sum("d").over(wcum).cast("long").alias("open_orders")
    )


# ---------------------------------------------------------------------------
# session-duration log2 histogram
# ---------------------------------------------------------------------------

_SESSION_GAP_US = 1_800_000_000

_SESSION_HIST_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_us
  FROM events
),
m AS (
  SELECT user_id, us, event_id,
         CASE WHEN prev_us IS NULL OR us - prev_us > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS is_start
  FROM e
),
sid AS (
  SELECT user_id, us,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_no
  FROM m
),
ses AS (
  SELECT user_id, session_no, MAX(us) - MIN(us) AS dur_us,
         COUNT(*) AS n_events
  FROM sid GROUP BY user_id, session_no
)
SELECT CAST(CASE WHEN dur_us = 0 THEN 0 ELSE length(bin(dur_us)) END AS BIGINT)
         AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events
FROM ses GROUP BY bucket
"""


@register("session_duration_log2", oracle=_SESSION_HIST_ORACLE)
def session_duration_log2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration distribution as a mergeable log2 histogram:
    30-minute-gap sessionization (the sessionize_lag_cumsum kernel),
    per-session duration in exact µs, then bit-length buckets — the
    libm-free quantile_log2_sketch discipline applied to a DERIVED
    interval rather than a stored column. Bucket b covers [2^(b−1),
    2^b) µs; single-event sessions land in bucket 0.

    One user-keyed shuffle powers both windows (LAG and the running
    is_start sum share partitioning), the session agg keys on
    (user, session_no) — a prefix of the same key, no new exchange —
    and the ≤64-bucket rollup is sketch-sized state suitable for
    streaming maintenance (same semilattice as streaming_log2_histogram).

    Scale bound: durations are µs differences ≤ the session span; log2 buckets are det_ln doubles — no integer products."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.lag(F.unix_micros("ts")).over(w).alias("prev_us"),
    )
    m = e.withColumn(
        "is_start",
        F.when(
            F.col("prev_us").isNull()
            | (F.col("us") - F.col("prev_us") > _SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    wcum = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sid = m.select(
        "user_id", "us", F.sum("is_start").over(wcum).alias("session_no")
    )
    ses = sid.groupBy("user_id", "session_no").agg(
        (F.max("us") - F.min("us")).alias("dur_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bucket = (
        F.when(F.col("dur_us") == 0, F.lit(0))
        .otherwise(F.length(F.bin("dur_us")))
        .cast("long")
    )
    return (
        ses.select(bucket.alias("bucket"), "n_events")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# late-arrival (watermark tuning) profile
# ---------------------------------------------------------------------------

_LATE_ORACLE = """
WITH arr AS (
  SELECT user_id % 16 AS src_part, event_id, epoch_us(ts) AS us,
         MAX(epoch_us(ts)) OVER (PARTITION BY user_id % 16 ORDER BY event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS runmax
  FROM events
),
lat AS (SELECT runmax - us AS late_us FROM arr)
SELECT CAST(CASE WHEN late_us = 0 THEN 0 ELSE length(bin(late_us)) END AS BIGINT)
         AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(late_us) AS BIGINT) AS max_late_us
FROM lat GROUP BY bucket
"""


@register("late_arrival_profile", oracle=_LATE_ORACLE)
def late_arrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder profile: within each source partition
    (user_id mod 16 — the partition a log consumer would own), arrival
    order is the append-log order (event_id) and an event's lateness
    is the running-max event time minus its own. The log2 histogram of
    that lateness IS the watermark-tuning curve: the bucket where the
    tail mass becomes acceptable is the delay you configure in
    withWatermark() (streaming engines track exactly this per-partition
    running max to advance their watermark).

    One partition-keyed window (running max over arrival order) and a
    ≤64-bucket rollup — the same shuffle a streaming source already
    pays to read, and the per-partition framing is the honest one at
    scale: a global arrival order doesn't exist in a distributed log.

    Scale bound: only µs differences bounded by the data's time-span enter the arithmetic (no µs products, no cross-row sums of raw epoch-µs); int64 epoch-µs is safe to ~year 294000."""
    w = (
        Window.partitionBy("src_part")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    arr = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 16).alias("src_part"),
        "event_id",
        F.unix_micros("ts").alias("us"),
    )
    lat = arr.select(
        (F.max("us").over(w) - F.col("us")).alias("late_us")
    )
    bucket = (
        F.when(F.col("late_us") == 0, F.lit(0))
        .otherwise(F.length(F.bin("late_us")))
        .cast("long")
    )
    return lat.select(bucket.alias("bucket"), "late_us").groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max("late_us").cast("long").alias("max_late_us"),
    )


_OHLC_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) // {_US_HOUR} AS hour_bucket,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) AS us, event_id AS eid
  FROM events
)
SELECT user_id, CAST(hour_bucket AS BIGINT) AS hour_bucket,
       (MIN(struct_pack(us := us, eid := eid, cents := cents))).cents AS open_cents,
       CAST(MAX(cents) AS BIGINT) AS high_cents,
       CAST(MIN(cents) AS BIGINT) AS low_cents,
       (MAX(struct_pack(us := us, eid := eid, cents := cents))).cents AS close_cents,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM e GROUP BY user_id, hour_bucket
"""


@register("ohlc_bars_hourly", oracle=_OHLC_ORACLE)
def ohlc_bars_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars per (user, hour): high/low are plain extrema, but
    open/close are the values AT the earliest/latest event — the
    time-argmin/argmax aggregate finance rollups need and plain
    min/max can't express. Time ties break on event_id via lexical
    struct ordering over (µs, event_id, cents), so open/close are
    total-order deterministic.

    Implemented as min/max over (µs, event_id, value) structs in
    ONE partial-aggregated pass — struct min orders field-by-field,
    giving argmin-by-time without a window or a join-back; one shuffle
    on the (user, hour) key at any scale.

    Scale bound: no integer arithmetic on the ordering key at all (the
    earlier µs·4096 + id%4096 packing overflowed int64 at epoch-µs ≥
    2^63/4096 — May 2041); struct comparison never multiplies, so the
    plan is safe for any timestamp int64 can hold (~year 294000)."""
    cents = F.round(F.col("value") * 100).cast("long")
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"unix_micros(ts) div {_US_HOUR}").alias("hour_bucket"),
        cents.alias("cents"),
        F.unix_micros("ts").alias("us"),
        F.col("event_id").alias("eid"),
    )
    return (
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


# ---------------------------------------------------------------------------
# time-weighted average
# ---------------------------------------------------------------------------

_TWA_ORACLE = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_us
  FROM events
),
w AS (
  SELECT user_id, CAST(cents AS HUGEINT) * (next_us - us) AS num,
         next_us - us AS dur
  FROM e WHERE next_us IS NOT NULL
)
SELECT user_id,
       CAST(SUM(num) AS DOUBLE) AS weighted_sum,
       CAST(SUM(dur) AS BIGINT) AS total_dur_us,
       CAST(SUM(num) AS DOUBLE) / CAST(SUM(dur) AS DOUBLE) AS twa_cents
FROM w GROUP BY user_id
HAVING SUM(dur) > 0
"""


@register("time_weighted_average", oracle=_TWA_ORACLE)
def time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each user's value signal: every
    reading is weighted by how long it stayed current (until the next
    reading). The correct mean for irregularly-sampled state — a
    plain AVG over-weights bursts; billing, utilization, and exposure
    metrics are all TWAs.

    One user-keyed window (LEAD) feeds one user-keyed agg — the same
    shuffle, no second exchange. The numerator accumulates in
    DECIMAL(38,0) (HUGEINT in the oracle); the final division is the
    only double; users whose events all share one timestamp drop out
    with the zero-duration HAVING guard in both engines.

    Scale bound: Σ cents·Δµs ≤ max|cents|·user_span_µs, and int64
    wraps already at ~$300 held for 10 years (29,224 cents × 3.2e14
    µs) — a REALISTIC book, so the sum is widened to DECIMAL(38,0) /
    HUGEINT (good to 10³⁸) and weighted_sum is emitted as the double
    of that exact integer. Cross-engine caveat (ADVICE r8): Spark's
    Decimal→double is correctly rounded, but DuckDB converts HUGEINT
    via upper/lower 64-bit limbs and can double-round, so for |wsum|
    beyond 2⁵³ the engines may differ in the last ulp — sealed
    identical at sf0.1, where sums stay inside 2⁵³·scale; if a future
    scale-up hash-mismatches on weighted_sum alone, this is why (the
    exact fix: emit wsum as DECIMAL/string instead of double). dur
    sums telescope to the span (< 2^63 µs always)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    )
    agg = (
        e.where(F.col("next_us").isNotNull())
        .select(
            "user_id",
            (
                F.col("cents").cast("decimal(38,0)")
                * (F.col("next_us") - F.col("us"))
            ).alias("num"),
            (F.col("next_us") - F.col("us")).alias("dur"),
        )
        .groupBy("user_id")
        .agg(
            F.sum("num").alias("wsum"),
            F.sum("dur").cast("long").alias("total_dur_us"),
        )
        .where(F.col("total_dur_us") > 0)
    )
    return agg.select(
        "user_id",
        F.col("wsum").cast("double").alias("weighted_sum"),
        "total_dur_us",
        (
            F.col("wsum").cast("double")
            / F.col("total_dur_us").cast("double")
        ).alias("twa_cents"),
    )


# ---------------------------------------------------------------------------
# exact distinct users per sliding window
# ---------------------------------------------------------------------------

_SLIDE_STEP_US = 900_000_000  # 15 min
_SLIDE_PANES = 4  # 1 h window / 15 min slide

_SLIDING_DISTINCT_ORACLE = f"""
WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
inst AS (
  SELECT DISTINCT (us // {_SLIDE_STEP_US} - p) * {_SLIDE_STEP_US} AS win_start_us,
         user_id
  FROM e, (SELECT unnest(range(0, {_SLIDE_PANES})) AS p)
)
SELECT CAST(win_start_us AS BIGINT) AS win_start_us,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_users
FROM inst GROUP BY win_start_us
"""


@register("sliding_distinct_users", oracle=_SLIDING_DISTINCT_ORACLE)
def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per sliding 1-hour window (15-minute
    slide): the expensive sliding statistic (COUNT DISTINCT is not
    pane-mergeable, unlike the sums sliding_window_agg composes from
    panes) done the scalable two-phase way — explode each event into
    its 4 covering windows, distinct-reduce to (window, user), then
    count. The shuffle carries (window, user) pairs; the 4× fan-out is
    the price of exactness (streaming_hll_registers is the sketch that
    replaces this when ±2% is acceptable).

    Window starts are integer µs arithmetic (bucket − pane offset), so
    both engines enumerate identical windows with no calendar
    functions.

    Scale bound: window indices are µs div step (≤ epoch-µs/step); re-multiplying by the step reproduces ≤ the original µs — no overflow at any event count."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    inst = e.select(
        "user_id",
        F.explode(
            F.array(
                *[
                    (
                        (F.expr(f"us div {_SLIDE_STEP_US}") - F.lit(p))
                        * _SLIDE_STEP_US
                    ).cast("long")
                    for p in range(_SLIDE_PANES)
                ]
            )
        ).alias("win_start_us"),
    ).distinct()
    return inst.groupBy("win_start_us").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_users")
    )


_TRENDING_ORACLE = f"""
WITH per AS (
  SELECT epoch_us(ts) // {_US_HOUR} AS hour_bucket, event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY hour_bucket, event_type
),
lagd AS (
  SELECT hour_bucket, event_type, n,
         COALESCE(LAG(n) OVER (PARTITION BY event_type ORDER BY hour_bucket), 0)
           AS prev_n
  FROM per
)
SELECT CAST(hour_bucket AS BIGINT) AS hour_bucket, event_type, n,
       CAST(n - prev_n AS BIGINT) AS delta,
       CAST(trend_rank AS BIGINT) AS trend_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY hour_bucket
                               ORDER BY n - prev_n DESC, event_type) AS trend_rank
  FROM lagd
) WHERE trend_rank <= 3
"""


@register("trending_event_types", oracle=_TRENDING_ORACLE)
def trending_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per hour, the 3 event types with the largest count GROWTH over
    their previous active hour — trending proper: volume ranking
    surfaces the permanently-popular, delta ranking surfaces what is
    CHANGING, which is what feed rankers and incident dashboards
    actually watch. Missing previous hours count as zero (a type's
    first appearance trends by its full volume).

    Two windows on the sketch-sized (hour × type) aggregate — the LAG
    partitions by type, the rank by hour; both operate on at most
    |hours|·|types| rows regardless of event volume, so the trend feed
    costs nothing beyond the count rollup at any scale.

    Scale bound: hour buckets are µs div constants and everything downstream is a count — int64 to 9.2·10¹⁸ events."""
    per = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.expr(f"unix_micros(ts) div {_US_HOUR}").alias("hour_bucket"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wl = Window.partitionBy("event_type").orderBy("hour_bucket")
    lagd = per.withColumn(
        "delta", F.col("n") - F.coalesce(F.lag("n").over(wl), F.lit(0))
    )
    wr = Window.partitionBy("hour_bucket").orderBy(
        F.desc("delta"), F.asc("event_type")
    )
    return (
        lagd.withColumn("trend_rank", F.row_number().over(wr))
        .where(F.col("trend_rank") <= 3)
        .select(
            F.col("hour_bucket").cast("long"),
            "event_type",
            "n",
            F.col("delta").cast("long"),
            F.col("trend_rank").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# sequence pattern matching + merkle reconciliation
# ---------------------------------------------------------------------------

_SEQ_PATTERNS = (
    ("view_then_purchase", "v[^p]*p"),
    ("full_funnel", "v[^c]*c[^p]*p"),
    ("error_recovery", "e[a-z]*p"),
)

_SEQ_ORACLE = f"""
WITH seq AS (
  SELECT user_id,
         string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS s
  FROM events GROUP BY user_id
),
pats AS (
  {" UNION ALL ".join(f"SELECT '{n}' AS pattern, '{p}' AS re" for n, p in _SEQ_PATTERNS)}
)
SELECT pattern,
       CAST(COUNT(*) FILTER (regexp_matches(s, re)) AS BIGINT) AS n_users,
       CAST(SUM(len(regexp_extract_all(s, re))) AS BIGINT) AS n_matches
FROM pats CROSS JOIN seq
GROUP BY pattern
"""


@register("sequence_pattern_match", oracle=_SEQ_ORACLE)
def sequence_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: per-user event-type sequences as ordered
    initial-letter strings (event types here have unique initials),
    matched against funnel regexes — users matched + non-overlapping
    occurrence counts per pattern. The sequence-mining shape (funnel
    regex, abuse signatures, clickstream motifs) without a row-per-step
    self-join explosion.

    100-TB shape: one groupBy to per-user grain with an ordered
    in-group reduction (sort_array of (ts,id,letter) structs — bounded
    by events-per-user, not corpus), then |patterns|×|users| regex
    evaluation that is a narrow map over the user table; output is
    |patterns| cells."""
    ev = _t(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts", "event_id", F.substring("event_type", 1, 1).alias("l")
                        )
                    )
                ),
                lambda s: s["l"],
            ),
            "",
        ).alias("s")
    )
    pats = spark.createDataFrame(list(_SEQ_PATTERNS), "pattern string, re string")
    joined = seq.crossJoin(F.broadcast(pats))
    return joined.groupBy("pattern").agg(
        F.sum(
            F.when(F.regexp_like("s", F.col("re")), 1).otherwise(0)
        ).cast("long").alias("n_users"),
        F.sum(F.regexp_count("s", F.col("re"))).cast("long").alias("n_matches"),
    )


# ---------------------------------------------------------------------------
# dyadic EWMA (α = 1/2), trailing 16 events, exact integers
# ---------------------------------------------------------------------------

_EWMA_ORACLE = """
WITH v AS (
  SELECT event_id, user_id, ts,
         CAST(ROUND(value * 100) AS BIGINT) AS v_cents
  FROM events
),
f AS (
  SELECT event_id, user_id, v_cents,
         list(v_cents) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS a
  FROM v
)
SELECT event_id, user_id, v_cents,
       CAST(list_sum(list_transform(range(1, len(a) + 1),
              i -> a[i] * ((1::BIGINT) << (16 - len(a) + i - 1)))) AS BIGINT)
         AS ewma_num,
       CAST(((1::BIGINT) << 16) - ((1::BIGINT) << (16 - len(a))) AS BIGINT)
         AS ewma_den,
       CAST(list_sum(list_transform(range(1, len(a) + 1),
              i -> a[i] * ((1::BIGINT) << (16 - len(a) + i - 1))))
            // (((1::BIGINT) << 16) - ((1::BIGINT) << (16 - len(a))))
            AS BIGINT) AS ewma_cents
FROM f
"""


@register("ewma_dyadic_user_value", oracle=_EWMA_ORACLE)
def ewma_dyadic_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential moving average of event value with dyadic
    decay (α = 1/2) over the trailing 16 events: the current event
    carries weight 2¹⁵, each older one half that, so numerator and
    denominator are EXACT int64 (weights are bit-shifts, values are
    cents) and the smoothed value is exact integer division. The usual
    recursive float EWMA can't cross-engine hash; the truncated dyadic
    form is the fixed-point answer (the dropped tail past 16 lags
    weighs < 2⁻¹⁶ of the window — below one cent for any realistic
    value).

    100-TB shape: one hash exchange on user_id; the frame bounds state
    at 16 values per row regardless of user history (same skew
    argument as window_distinct_rolling). The weighted sum is a JVM
    higher-order zip_with/aggregate over a ≤16-element array — no
    Python, no explode."""
    v = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-15, Window.currentRow)
    )
    f = v.select(
        "event_id",
        "user_id",
        "v_cents",
        F.collect_list("v_cents").over(w).alias("a"),
    )
    num = F.expr(
        "aggregate(zip_with(a, sequence(1, size(a)),"
        " (x, i) -> x * shiftleft(1L, 16 - size(a) + i - 1)),"
        " 0L, (acc, x) -> acc + x)"
    )
    den = F.expr("shiftleft(1L, 16) - shiftleft(1L, 16 - size(a))")
    return f.select(
        "event_id",
        "user_id",
        "v_cents",
        num.cast("long").alias("ewma_num"),
        den.cast("long").alias("ewma_den"),
    ).withColumn(
        "ewma_cents", F.expr("ewma_num DIV ewma_den").cast("long")
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint (closed-form via prefix sums, milli fixed-point)
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS dy, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
ref AS (  -- per-type reference level: mean daily count, milli fixed-point
  SELECT event_type, dy, cnt,
         (SUM(cnt) OVER (PARTITION BY event_type) * 1000)
           // COUNT(*) OVER (PARTITION BY event_type) AS k_milli
  FROM daily
),
p AS (
  SELECT event_type, dy, cnt, k_milli,
         SUM(cnt * 1000 - k_milli) OVER (
           PARTITION BY event_type ORDER BY dy
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_milli
  FROM ref
),
c AS (
  SELECT event_type, dy, cnt, k_milli, p_milli,
         p_milli - LEAST(0, MIN(p_milli) OVER (
           PARTITION BY event_type ORDER BY dy
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum_milli
  FROM p
)
SELECT event_type, dy, cnt,
       CAST(k_milli AS BIGINT) AS k_milli,
       CAST(p_milli AS BIGINT) AS p_milli,
       CAST(cusum_milli AS BIGINT) AS cusum_milli,
       cusum_milli > k_milli // 4 AS alarm
FROM c
"""


@register("cusum_changepoint", oracle=_CUSUM_ORACLE)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided upper CUSUM per event type over daily counts, with the
    per-type mean daily count as the reference level k and an alarm at
    S > k/4. The recursion S_t = max(0, S_{t−1} + (x_t − k)) is
    re-expressed in closed form S_t = P_t − min(0, min_{s≤t} P_s)
    (P = prefix sum of deviations) — two cumulative windows instead of
    a stateful loop, exact in milli fixed-point (k is a floor-divided
    rational; everything after is integer adds and mins, so the alarm
    threshold cannot flip between engines).

    100-TB shape: one partial-agg shuffle to the (type, day) grid;
    both cumulative windows and the reference level share the single
    hash partitioning on event_type (exchange reuse); per-type state
    streams in day order. A monitoring sweep over a million metrics is
    the same plan with metric_id for event_type."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("dy"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ref = daily.select(
        "event_type",
        "dy",
        "cnt",
        F.expr(
            "(sum(cnt) OVER (PARTITION BY event_type) * 1000)"
            " DIV count(*) OVER (PARTITION BY event_type)"
        ).alias("k_milli"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("dy")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = ref.withColumn(
        "p_milli", F.sum(F.col("cnt") * 1000 - F.col("k_milli")).over(wc)
    )
    c = p.withColumn(
        "cusum_milli",
        F.col("p_milli")
        - F.least(F.lit(0), F.min("p_milli").over(wc)),
    )
    return c.select(
        "event_type",
        "dy",
        "cnt",
        F.col("k_milli").cast("long").alias("k_milli"),
        F.col("p_milli").cast("long").alias("p_milli"),
        F.col("cusum_milli").cast("long").alias("cusum_milli"),
        (F.col("cusum_milli") > F.expr("k_milli DIV 4")).alias("alarm"),
    )


# ---------------------------------------------------------------------------
# naive-forecast WAPE audit (lag-1 and lag-7 baselines)
# ---------------------------------------------------------------------------

_WAPE_ORACLE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS dy, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
l AS (
  SELECT event_type, dy, cnt,
         LAG(cnt, 1) OVER (PARTITION BY event_type ORDER BY dy) AS yhat1,
         LAG(cnt, 7) OVER (PARTITION BY event_type ORDER BY dy) AS yhat7
  FROM daily
),
g AS (
  SELECT event_type,
         SUM(CASE WHEN yhat1 IS NOT NULL THEN ABS(cnt - yhat1) END) AS ae1,
         SUM(CASE WHEN yhat1 IS NOT NULL THEN cnt - yhat1 END) AS bias1,
         SUM(CASE WHEN yhat1 IS NOT NULL THEN cnt END) AS y1,
         SUM(CASE WHEN yhat7 IS NOT NULL THEN ABS(cnt - yhat7) END) AS ae7,
         SUM(CASE WHEN yhat7 IS NOT NULL THEN cnt - yhat7 END) AS bias7,
         SUM(CASE WHEN yhat7 IS NOT NULL THEN cnt END) AS y7,
         COUNT(yhat1) AS n1, COUNT(yhat7) AS n7
  FROM l GROUP BY event_type
)
SELECT event_type,
       CAST(n1 AS BIGINT) AS n_rounds_lag1,
       CAST(n7 AS BIGINT) AS n_rounds_lag7,
       CAST(ae1 AS BIGINT) AS abs_err_lag1,
       CAST(bias1 AS BIGINT) AS bias_lag1,
       CAST(ae7 AS BIGINT) AS abs_err_lag7,
       CAST(bias7 AS BIGINT) AS bias_lag7,
       CAST(ae1 AS DOUBLE) / CAST(y1 AS DOUBLE) AS wape_lag1,
       CAST(ae7 AS DOUBLE) / CAST(y7 AS DOUBLE) AS wape_lag7
FROM g
"""


@register("forecast_naive_wape", oracle=_WAPE_ORACLE)
def forecast_naive_wape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline accuracy per event type: WAPE (Σ|y−ŷ|/Σy) and
    signed bias for the lag-1 naive and lag-7 seasonal-naive
    forecasts of daily counts — the two baselines every forecasting
    model must beat before it ships, evaluated only on days where the
    baseline is defined (the first 1/7 days warm up). Absolute errors
    and totals are exact integers; each WAPE is one IEEE division.

    100-TB shape: one partial-agg shuffle to the (type, day) grid; the
    two lags and the final aggregate all ride the event_type hash
    partitioning (one exchange, reused); output is |types| rows."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("dy"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy("dy")
    lagd = daily.select(
        "event_type",
        "cnt",
        F.lag("cnt", 1).over(w).alias("yhat1"),
        F.lag("cnt", 7).over(w).alias("yhat7"),
    )

    def s(col, expr_col):
        return F.sum(F.when(F.col(col).isNotNull(), expr_col))

    g = lagd.groupBy("event_type").agg(
        s("yhat1", F.abs(F.col("cnt") - F.col("yhat1"))).alias("ae1"),
        s("yhat1", F.col("cnt") - F.col("yhat1")).alias("bias1"),
        s("yhat1", F.col("cnt")).alias("y1"),
        s("yhat7", F.abs(F.col("cnt") - F.col("yhat7"))).alias("ae7"),
        s("yhat7", F.col("cnt") - F.col("yhat7")).alias("bias7"),
        s("yhat7", F.col("cnt")).alias("y7"),
        F.count("yhat1").alias("n1"),
        F.count("yhat7").alias("n7"),
    )
    return g.select(
        "event_type",
        F.col("n1").cast("long").alias("n_rounds_lag1"),
        F.col("n7").cast("long").alias("n_rounds_lag7"),
        F.col("ae1").cast("long").alias("abs_err_lag1"),
        F.col("bias1").cast("long").alias("bias_lag1"),
        F.col("ae7").cast("long").alias("abs_err_lag7"),
        F.col("bias7").cast("long").alias("bias_lag7"),
        (F.col("ae1").cast("double") / F.col("y1").cast("double")).alias(
            "wape_lag1"
        ),
        (F.col("ae7").cast("double") / F.col("y7").cast("double")).alias(
            "wape_lag7"
        ),
    )


# ---------------------------------------------------------------------------
# run-length encoding of per-user event-type sequences
# ---------------------------------------------------------------------------

_RLE_ORACLE = """
WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS run_idx
  FROM e
)
SELECT user_id,
       CAST(run_idx AS BIGINT) AS run_idx,
       ANY_VALUE(event_type) AS event_type,
       CAST(COUNT(*) AS BIGINT) AS run_len,
       MIN(ts) AS run_start,
       MAX(ts) AS run_end
FROM runs
GROUP BY user_id, run_idx
"""


@register("rle_sequence_encode", oracle=_RLE_ORACLE)
def rle_sequence_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encode each user's event-type sequence: a change
    flag (lag ≠ current, null-safe) prefix-summed into a run index,
    then one aggregate per (user, run). run_idx starts at 1 (the first
    row always breaks against the null lag), so (user_id, run_idx) is
    a dense 1-based sequence key.

    100-TB shape: ONE hash exchange on user_id serves the lag window,
    the prefix sum (same window spec — single Window operator), and
    the final aggregate (key prefix match ⇒ exchange reuse). State per
    row is O(1); skewed users stream through the sort. The output is
    the compressed sequence — strictly smaller than the input,
    bounded by it."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        )
        .otherwise(0)
        .alias("brk"),
    )
    runs = e.withColumn("run_idx", F.sum("brk").over(wc))
    return runs.groupBy("user_id", F.col("run_idx").cast("long").alias("run_idx")).agg(
        F.first("event_type").alias("event_type"),
        F.count(F.lit(1)).cast("long").alias("run_len"),
        F.min("ts").alias("run_start"),
        F.max("ts").alias("run_end"),
    )


# ---------------------------------------------------------------------------
# consecutive-day activity streaks (date − day-rank islands)
# ---------------------------------------------------------------------------

_STREAK_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS dy FROM events
),
r AS (
  SELECT user_id, dy,
         row_number() OVER (PARTITION BY user_id ORDER BY dy) AS rn
  FROM days
),
isl AS (
  SELECT user_id, dy,
         CAST(dy AS DATE) - CAST(rn AS INTEGER) AS island
  FROM r
),
streaks AS (
  SELECT user_id, island,
         CAST(COUNT(*) AS BIGINT) AS len,
         MIN(dy) AS streak_start,
         MAX(dy) AS streak_end
  FROM isl GROUP BY 1, 2
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(SUM(len) AS BIGINT) AS active_days,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       CAST(MAX_BY(len, streak_end) AS BIGINT) AS last_streak_len,
       MAX(streak_end) AS last_active_day
FROM streaks
GROUP BY user_id
"""


@register("user_activity_streaks", oracle=_STREAK_ORACLE)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive-day streaks: distinct active days ranked
    per user; day − rank is CONSTANT exactly within a run of
    consecutive days (the classic islands trick — no self-join, no
    loop), so grouping on it yields streaks. Reports streak count,
    total active days, the longest streak, and the most recent
    streak's length (max_by on streak end — the "current streak" every
    engagement model features).

    100-TB shape: distinct (user, day) partial-aggregates map-side
    (events per user-day collapse before the shuffle); the rank window
    and both aggregates share the user_id hash partitioning. Calendar
    arithmetic is exact integer day counts on both engines."""
    days = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", F.col("ts")).alias("dy"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("dy")
    isl = days.select(
        "user_id",
        "dy",
        F.date_sub(F.col("dy").cast("date"), F.row_number().over(w)).alias(
            "island"
        ),
    )
    streaks = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("dy").alias("streak_start"),
        F.max("dy").alias("streak_end"),
    )
    return streaks.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.sum("len").cast("long").alias("active_days"),
        F.max("len").cast("long").alias("longest_streak"),
        F.expr("max_by(len, streak_end)").cast("long").alias("last_streak_len"),
        F.max("streak_end").alias("last_active_day"),
    )


# ---------------------------------------------------------------------------
# peak concurrency per day (±1 interval sweep)
# ---------------------------------------------------------------------------

_IV_W_US = 300_000_000  # 5-minute activity interval per event


_CONCURRENCY_ORACLE = f"""
WITH iv AS (
  SELECT epoch_us(ts) AS s, epoch_us(ts) + {_IV_W_US} AS e FROM events
),
d AS (
  SELECT s AS us, 1 AS delta FROM iv
  UNION ALL
  SELECT e AS us, -1 AS delta FROM iv
),
net AS (SELECT us, CAST(SUM(delta) AS BIGINT) AS net FROM d GROUP BY us),
run AS (
  SELECT us,
         CAST(SUM(net) OVER (ORDER BY us
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS conc
  FROM net
),
byday AS (SELECT us // {_US_DAY} AS day_bucket, us, conc FROM run),
mx AS (
  SELECT day_bucket, CAST(MAX(conc) AS BIGINT) AS max_concurrent
  FROM byday GROUP BY day_bucket
)
SELECT mx.day_bucket, mx.max_concurrent,
       CAST(MIN(b.us) AS BIGINT) AS first_peak_us
FROM mx JOIN byday b
  ON b.day_bucket = mx.day_bucket AND b.conc = mx.max_concurrent
GROUP BY mx.day_bucket, mx.max_concurrent
"""


@register("max_concurrent_intervals", oracle=_CONCURRENCY_ORACLE)
def max_concurrent_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent 5-minute activity intervals per day, plus the
    first µs the peak is reached: the classic ±1 sweep (+1 at each
    interval start, −1 at its half-open end), deltas AGGREGATED per
    distinct µs before the running sum — so equal-timestamp starts and
    ends net out identically on both engines and no within-µs ordering
    convention is needed.

    Scale note: the running sum here is one global ordered scan (fine
    at bench scale; the net table is ≤ 2 rows per event and usually far
    smaller after the per-µs collapse). At 100 TB the same sweep runs
    as the two-phase distributed prefix sum this repo already ships for
    global_rank/stable_id_assignment: per-range partial sums, then a
    broadcast offset per range — the day grouping is unchanged.

    Scale bound: concurrency ≤ row count and µs enters only div/mod
    bucket math — int64 to 9.2·10¹⁸ events; no µs products."""
    iv = _t(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(_IV_W_US)).alias("e"),
    )
    d = iv.select(F.col("s").alias("us"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.col("e").alias("us"), F.lit(-1).alias("delta"))
    )
    net = d.groupBy("us").agg(F.sum("delta").cast("long").alias("net"))
    w = Window.orderBy("us").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run = net.select(
        "us", F.sum("net").over(w).cast("long").alias("conc")
    ).withColumn("day_bucket", F.expr(f"us DIV {_US_DAY}"))
    mx = run.groupBy("day_bucket").agg(
        F.max("conc").cast("long").alias("max_concurrent")
    )
    return (
        mx.join(run.select("day_bucket", "us", "conc"), "day_bucket")
        .where(F.col("conc") == F.col("max_concurrent"))
        .groupBy("day_bucket", "max_concurrent")
        .agg(F.min("us").cast("long").alias("first_peak_us"))
    )


# ---------------------------------------------------------------------------
# per-user interval-union coverage (islands via running max of end)
# ---------------------------------------------------------------------------

_COVERAGE_ORACLE = f"""
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s, epoch_us(ts) + {_IV_W_US} AS e
  FROM events
),
m AS (
  SELECT user_id, s, e,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max_e
  FROM iv
),
f AS (
  SELECT user_id, s, e,
         CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END
           AS new_island
  FROM m
),
isl AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
  FROM f
),
seg AS (
  SELECT user_id, island_id, MIN(s) AS st, MAX(e) AS en
  FROM isl GROUP BY user_id, island_id
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(en - st) AS BIGINT) AS covered_us,
       CAST(MAX(en) - MIN(st) AS BIGINT) AS span_us
FROM seg GROUP BY user_id
"""


@register("interval_union_coverage", oracle=_COVERAGE_ORACLE)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user union of half-open 5-minute activity intervals: island
    count, total covered µs, and overall span. Islands come from the
    running-max-of-end trick — an interval starts a new island iff its
    start exceeds the max end seen so far (touching intervals merge,
    half-open semantics). Coverage = Σ (island_end − island_start):
    overlap counted once, which a plain SUM of widths overstates.

    100-TB shape: every window and group-by partitions on user_id —
    ONE shuffle serves all four stages (the sessionize_lag_cumsum
    partitioning-reuse argument); per-user work is linear in that
    user's events after the sort.

    Scale bound: interval ends are epoch-µs + 3·10⁸ (int64 to ~year
    294000); covered_us telescopes to ≤ the user's span — no µs
    products, no cross-user sums."""
    iv = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(_IV_W_US)).alias("e"),
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = iv.select(
        "user_id", "s", "e", F.max("e").over(wprev).alias("prev_max_e")
    )
    f = m.select(
        "user_id",
        "s",
        "e",
        F.when(
            F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")), 1
        )
        .otherwise(0)
        .alias("new_island"),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = f.select(
        "user_id", "s", "e", F.sum("new_island").over(wrun).alias("island_id")
    )
    seg = isl.groupBy("user_id", "island_id").agg(
        F.min("s").alias("st"), F.max("e").alias("en")
    )
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum(F.col("en") - F.col("st")).cast("long").alias("covered_us"),
        (F.max("en") - F.min("st")).cast("long").alias("span_us"),
    )


# ---------------------------------------------------------------------------
# greedy debounce (sequential fold — applyInPandas + recursive-CTE oracle)
# ---------------------------------------------------------------------------

_DEBOUNCE_GAP_US = 43_200_000_000  # 12 hours

_DEBOUNCE_ORACLE = f"""
WITH RECURSIVE ev AS (  -- one row per (user, µs): deterministic eid on ties
  SELECT user_id, epoch_us(ts) AS us, MIN(event_id) AS eid
  FROM events GROUP BY user_id, epoch_us(ts)
),
kept AS (
  SELECT user_id, MIN(us) AS us FROM ev GROUP BY user_id
  UNION ALL
  SELECT k.user_id,
         (SELECT MIN(e.us) FROM ev e
          WHERE e.user_id = k.user_id
            AND e.us >= k.us + {_DEBOUNCE_GAP_US}) AS us
  FROM kept k
  WHERE (SELECT MIN(e.us) FROM ev e
         WHERE e.user_id = k.user_id
           AND e.us >= k.us + {_DEBOUNCE_GAP_US}) IS NOT NULL
)
SELECT kept.user_id, CAST(kept.us AS BIGINT) AS kept_us,
       CAST(ev.eid AS BIGINT) AS kept_eid
FROM kept JOIN ev ON ev.user_id = kept.user_id AND ev.us = kept.us
"""


@register("event_debounce_keep_first", oracle=_DEBOUNCE_ORACLE)
def event_debounce_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy debounce: keep an event iff at least 12 h passed since
    the user's last KEPT event. The chain is data-dependent state
    (last kept µs), which — unlike CUSUM's prefix-sum closed form or
    sessionization's lag-gap flags — has NO window/closed-form SQL
    equivalent: keeping event i changes which later events qualify.
    This is the canonical case (b) operator of the build brief: a
    grouped ``applyInPandas`` fold on the Spark side (per-user O(1)
    state, Arrow-batched groups), a recursive CTE on the oracle side.
    Batch twin of streaming_rate_limiter's token-bucket state.

    100-TB shape: one shuffle on user_id; per-user fold is linear in
    that user's events with constant state — the same distribution
    argument as the stateful streaming operators, minus the
    micro-batch machinery.

    Scale bound: the only arithmetic is epoch-µs + 4.32·10¹⁰ (int64
    wraps ~year 294000); ties are pre-collapsed to one row per
    (user, µs) with MIN(event_id) on both engines.

    r12 (guide §4.2, the applyinpandas_minmax_scale device): the
    grouped map is keyed on the deterministic bucket
    pmod(user_id, 4·defaultParallelism), not raw user_id — one Python
    call + one pandas-frame construction per BUCKET instead of per
    user (a per-entity call count that tracks entity count, not data
    size). The fold inside walks the bucket sorted by (user_id, µs)
    and resets its last-kept state at each user boundary — per-user
    chains never see each other, so the output is grouping-invariant
    (pinned by test_bucketed_debounce_matches_per_user_grouping)."""
    import pandas as pd

    ev = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", F.unix_micros("ts").alias("us"))
        .agg(F.min("event_id").alias("eid"))
    )

    gap = _DEBOUNCE_GAP_US
    n_buckets = 4 * spark.sparkContext.defaultParallelism

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["user_id", "us"])
        us = pdf["us"].to_numpy()
        eid = pdf["eid"].to_numpy()
        uid = pdf["user_id"].to_numpy()
        kept_uid, kept_us, kept_eid = [], [], []
        last_uid = None
        last = 0
        for i in range(len(us)):
            u = int(us[i])
            cur = int(uid[i])
            if cur != last_uid or u - last >= gap:
                kept_uid.append(cur)
                kept_us.append(u)
                kept_eid.append(int(eid[i]))
                last_uid = cur
                last = u
        return pd.DataFrame(
            {
                "user_id": kept_uid,
                "kept_us": kept_us,
                "kept_eid": kept_eid,
            }
        )

    return (
        ev.withColumn("__b", F.pmod(F.col("user_id"), F.lit(n_buckets)))
        .groupBy("__b")
        .applyInPandas(fold, schema="user_id long, kept_us long, kept_eid long")
    )


# ---------------------------------------------------------------------------
# exact hourly autocorrelation profile (lag 1 vs lag 24 — seasonality audit)
# ---------------------------------------------------------------------------


def _acf_sql(series_fn: str) -> str:
    """Shared text; only the dense-hour-spine generator is dialect-
    specific (Spark explode(sequence(...)) vs DuckDB
    unnest(generate_series(...)))."""
    return f"""
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS mn, date_trunc('hour', MAX(ts)) AS mx
  FROM events
),
spine AS (SELECT {series_fn} AS h FROM bounds),
types AS (SELECT DISTINCT event_type FROM events),
cnt AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
series AS (
  SELECT t.event_type, s.h, CAST(COALESCE(c.x, 0) AS BIGINT) AS x
  FROM types t CROSS JOIN spine s
  LEFT JOIN cnt c ON c.event_type = t.event_type AND c.h = s.h
),
w AS (
  SELECT event_type, h, x,
         LEAD(x, 1)  OVER (PARTITION BY event_type ORDER BY h) AS x1,
         LEAD(x, 24) OVER (PARTITION BY event_type ORDER BY h) AS x24,
         CAST(SUM(x)    OVER (PARTITION BY event_type) AS BIGINT) AS sx,
         CAST(COUNT(*)  OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM series
),
agg AS (
  SELECT event_type,
         CAST(MAX(n) AS BIGINT) AS n_hours,
         CAST(MAX(sx) AS BIGINT) AS sum_x,
         CAST(SUM((n * x - sx) * (n * x - sx)) AS BIGINT) AS acf_den,
         CAST(SUM(CASE WHEN x1 IS NOT NULL
                       THEN (n * x - sx) * (n * x1 - sx) ELSE 0 END)
              AS BIGINT) AS acf1_num,
         CAST(SUM(CASE WHEN x24 IS NOT NULL
                       THEN (n * x - sx) * (n * x24 - sx) ELSE 0 END)
              AS BIGINT) AS acf24_num
  FROM w GROUP BY event_type
)
SELECT event_type, n_hours, sum_x, acf1_num, acf24_num, acf_den,
       CASE WHEN acf_den > 0
            THEN CAST(acf1_num AS DOUBLE) / CAST(acf_den AS DOUBLE)
            ELSE NULL END AS r_lag1,
       CASE WHEN acf_den > 0
            THEN CAST(acf24_num AS DOUBLE) / CAST(acf_den AS DOUBLE)
            ELSE NULL END AS r_lag24
FROM agg
"""


@register(
    "acf_hourly_lag_profile",
    oracle=_acf_sql("unnest(generate_series(mn, mx, INTERVAL 1 hour))"),
)
def acf_hourly_lag_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sample autocorrelation of each event type's hourly count
    series at lag 1 vs lag 24 — the seasonality/monitoring audit
    (r_24 ≫ r_1 ⟹ daily cycle dominates; a drop in r_24 is the
    earliest structural-change alarm for an ingestion pipeline). The
    series is made DENSE first (hour spine × type, missing hours
    count 0 — silently skipping empty hours would corrupt every lag),
    then r_L = Σ(x_t−x̄)(x_{t+L}−x̄)/Σ(x_t−x̄)², cleared of the
    rational mean by multiplying through by n²: every numerator and
    denominator term is the exact integer (n·x_t − S)(n·x_{t+L} − S),
    summed order-free; the two r values are single final divisions.
    Shared SQL text; only the spine generator is dialect-specific.

    100-TB shape: the spine cross is |types| × |hours| (a broadcast
    of the tiny side); counts partial-aggregate map-side before the
    one shuffle on (type, hour); the lag windows ride one exchange on
    event_type. Scale bound at sealed scales: n = 720 hours, x ≤ a
    few hundred/hour ⇒ |n·x − S| ≤ ~10⁵·7×10² and term sums ≤ ~10¹³
    (inside int64 AND 2^53 for the float tail). Hour counts of ~10⁹
    (true 100-TB firehose) overflow the int64 products — that regime
    switches these sums to DECIMAL(38,0)/HUGEINT, the
    spearman_rho_decimal device, same text shape."""
    register_views(spark, sf_dir)
    return spark.sql(_acf_sql("explode(sequence(mn, mx, interval 1 hour))"))


# ---------------------------------------------------------------------------
# classical additive seasonal decomposition (centered MA, exact integers)
# ---------------------------------------------------------------------------


def _stl_sql(series_fn: str) -> str:
    """Shared text; only the dense-hour-spine generator is dialect-
    specific (the acf_hourly_lag_profile device)."""
    return f"""
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS mn, date_trunc('hour', MAX(ts)) AS mx
  FROM events
),
spine AS (SELECT {series_fn} AS h FROM bounds),
types AS (SELECT DISTINCT event_type FROM events),
cnt AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
series AS (
  SELECT t.event_type, s.h, CAST(COALESCE(c.x, 0) AS BIGINT) AS x
  FROM types t CROSS JOIN spine s
  LEFT JOIN cnt c ON c.event_type = t.event_type AND c.h = s.h
),
w AS (
  SELECT event_type, h, x,
         LAG(x, 12)  OVER (PARTITION BY event_type ORDER BY h) AS xm12,
         LEAD(x, 12) OVER (PARTITION BY event_type ORDER BY h) AS xp12,
         CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY h
                           ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING)
              AS BIGINT) AS s23,
         CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY h
                             ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING)
              AS BIGINT) AS c23
  FROM series
),
det AS (
  SELECT event_type, h, x,
         CASE WHEN xm12 IS NOT NULL AND xp12 IS NOT NULL AND c23 = 23
              THEN CAST(xm12 + xp12 + 2 * s23 AS BIGINT) END AS trend48,
         CASE WHEN xm12 IS NOT NULL AND xp12 IS NOT NULL AND c23 = 23
              THEN CAST(48 * x - (xm12 + xp12 + 2 * s23) AS BIGINT)
              END AS det48,
         CAST(extract(hour FROM h) AS BIGINT) AS hod
  FROM w
),
seas AS (
  SELECT event_type, hod,
         CAST(SUM(det48) AS BIGINT) AS s_num,
         CAST(COUNT(det48) AS BIGINT) AS s_den
  FROM det WHERE det48 IS NOT NULL GROUP BY event_type, hod
)
SELECT d.event_type, d.h, d.x, d.trend48, d.det48, se.s_num, se.s_den,
       CAST(d.trend48 AS DOUBLE) / 48.0 AS trend,
       CAST(se.s_num AS DOUBLE) / CAST(48 * se.s_den AS DOUBLE) AS seasonal,
       CASE WHEN d.det48 IS NOT NULL
            THEN CAST(d.det48 * se.s_den - se.s_num AS DOUBLE)
                 / CAST(48 * se.s_den AS DOUBLE) END AS remainder
FROM det d
JOIN seas se ON se.event_type = d.event_type AND se.hod = d.hod
"""


@register(
    "seasonal_decompose_ma",
    oracle=_stl_sql("unnest(generate_series(mn, mx, INTERVAL 1 hour))"),
)
def seasonal_decompose_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of each event type's
    DENSE hourly count series (x = trend + seasonal + remainder) — the
    monitoring primitive behind "is traffic actually down, or is it
    just 3am?": acf_hourly_lag_profile DETECTS the daily cycle, this
    entry REMOVES it so the remainder is the alarm channel. Trend =
    centered 24-period moving average in the ×48 integer form
    x_{t−12} + 2·Σ_{i=−11..11} x_{t+i} + x_{t+12} (half-weight
    endpoints — the standard even-period centering), defined only
    where the full 25-hour window exists (NULL margins, never a
    shrunken window — a shrunken MA would leak trend into seasonal).
    Seasonal = per (type, hour-of-day) mean of the detrended series
    carried as the exact integer pair (Σ det48, count); remainder =
    det48/48 − seasonal, emitted via the single division
    (det48·s_den − s_num)/(48·s_den). Every float column is ONE IEEE
    division of exact int64s — no float ever enters an aggregate.
    (First-pass classical decomposition: the seasonal means are not
    re-centered to sum zero and there is no robustness iteration —
    documented simplification, same as statsmodels' seasonal_decompose
    defaults vs full STL.)

    100-TB shape: counts partial-aggregate map-side before ONE shuffle
    on (type, hour); the spine cross is a broadcast of the tiny hour
    spine (the acf device); trend windows and the seasonal join ride
    one exchange on event_type / (event_type, hod). Scale bound at
    sealed scales: x ≤ a few hundred/hour ⇒ 48·x and det48·s_den ≤
    ~10⁶ — far inside int64 AND 2⁵³; hour counts of ~10⁹ (true
    firehose) switch the sums to DECIMAL(38,0), the
    spearman_rho_decimal device, same text shape."""
    register_views(spark, sf_dir)
    return spark.sql(_stl_sql("explode(sequence(mn, mx, interval 1 hour))"))
