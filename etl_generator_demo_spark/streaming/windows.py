"""Time-window operators over the events stream — SURVEY.md §2.11
([EXT]; the reference has no streaming surface).

Batch-first: `F.window` / `F.session_window` produce identical results
in batch and in Structured Streaming, so each operator here is written
once and reused by `streaming_pipeline()` with `readStream` +
`withWatermark` for a live source. Windowed aggregation in streaming
mode keeps per-window partial state in the state store; the watermark
bounds it (late events beyond 10 minutes are dropped).

Oracle parity: tumbling window starts are epoch-aligned, equal to
date_trunc on the period; sliding windows enumerate the (width/slide)
grids; session windows are the classic gaps-and-islands rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.registry import register


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "st_tumbling_hourly",
    oracle="""
    SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    survey_ids=("§2.11",),
)
def st_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type."""
    return tumbling_counts(t(spark, sf_dir, "events")).orderBy("window_start", "event_type")


@register(
    "st_sliding_windows",
    oracle="""
    WITH grid AS (
        SELECT TIME_BUCKET(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS window_start, value
        FROM events
        UNION ALL
        SELECT TIME_BUCKET(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) - INTERVAL '30 minutes', value
        FROM events
    )
    SELECT window_start, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM grid
    GROUP BY 1
    ORDER BY window_start
    """,
    survey_ids=("§2.11",),
)
def st_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1-hour width, 30-minute slide (each event lands
    in two windows; the oracle enumerates both grid positions)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
        .orderBy("window_start")
    )


@register(
    "st_session_windows",
    oracle="""
    WITH marked AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                         OR CAST(ts AS TIMESTAMP) - LAG(CAST(ts AS TIMESTAMP)) OVER w
                            > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    islands AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM islands
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """,
    survey_ids=("§2.11",),
)
def st_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions with a 30-minute inactivity gap
    (F.session_window; merged-session semantics match gaps-and-islands).

    Scale shape (measured at the 100x probe tier, 1M events/955k
    sessions): one hash shuffle on user_id + per-partition sort-merge,
    then the output-ordering range shuffle — wall clock is linear in
    events + sessions, with the driver-side row materialization of the
    probe's collect() as the largest term. A gaps-and-islands window
    rewrite and 4x shuffle partitions were both measured no faster;
    Catalyst already prunes the scan to (user_id, ts) through the
    nanos-ts normalization (the explicit select just documents it)."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts")
    return user_sessions(ev).orderBy("user_id", "session_start")


def user_sessions(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """(user_id, session_start, n_events) via F.session_window.

    Hot-user skew: session semantics are a per-user total order, so
    Spark's plan shuffles every event of a user to one task
    (MergingSessions is a single sorted linear pass — a hot user costs
    O(n log n) in that task, never quadratic). When one user carries
    enough volume to straggle, use ``user_sessions_salted`` — result-
    identical, skew-spread (tests/test_skew_hotuser.py)."""
    return (
        events.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def user_sessions_salted(
    events: DataFrame, gap: str = "30 minutes", bucket_secs: int = 86400
) -> DataFrame:
    """Two-phase sessionization that spreads a hot user across tasks —
    the salting answer for session windows, where plain salt-and-join
    would corrupt the per-user order.

    Phase 1 sessionizes within ``(user_id, time-bucket)``: the bucket
    id is a deterministic time-derived salt, so one user's events
    shuffle to as many tasks as buckets they span. Phase 2 repairs the
    bucket-boundary splits: per user, adjacent phase-1 sessions merge
    when the next starts inside the previous session's gap extension —
    a gaps-and-islands pass over SESSION SUMMARIES (orders of magnitude
    fewer rows than events; session ends are nondecreasing in start
    order, so lag(end) is the running max and chain merges compose).

    Exactly ``user_sessions`` semantics: intra-bucket splits are
    F.session_window's own; extra splits exist only at bucket edges and
    phase 2 merges precisely those whose inter-session gap is inside
    ``gap`` (strict ``<``, matching session_window's half-open
    [start, last+gap) windows). Equivalence pinned on planted hot-user
    data and on the real fixture in tests/test_skew_hotuser.py."""
    # cast: unix_micros requires TIMESTAMP; the parquet ts column may
    # infer as TIMESTAMP_NTZ (wall-clock identical under UTC session tz)
    bucket = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(int(bucket_secs) * 1_000_000)
    )
    phase1 = (
        events.groupBy(
            "user_id",
            bucket.alias("_b"),
            F.session_window("ts", gap).alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            "n_events",
        )
    )
    w = Window.partitionBy("user_id").orderBy("s_start")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        phase1.withColumn("_prev_end", F.lag("s_end").over(w))
        .withColumn(
            "_new",
            (
                F.col("_prev_end").isNull()
                | (F.col("s_start") >= F.col("_prev_end"))
            ).cast("long"),
        )
        .withColumn("_sess_no", F.sum("_new").over(run))
        .groupBy("user_id", "_sess_no")
        .agg(
            F.min("s_start").alias("session_start"),
            F.sum("n_events").alias("n_events"),
        )
        .select("user_id", "session_start", "n_events")
    )


@register(
    "st_session_windows_salted",
    oracle="""
    WITH marked AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                         OR CAST(ts AS TIMESTAMP) - LAG(CAST(ts AS TIMESTAMP)) OVER w
                            > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    islands AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM islands
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """,
    survey_ids=("§2.11",),
)
def st_session_windows_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-user-safe tier of ``st_session_windows``: two-phase
    salted sessionization (1-hour salt buckets at fixture scale; a day
    in production). Same oracle as the plain tier — the session set is
    identical by construction, so the hash proves the salting repair
    step exact."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts")
    return user_sessions_salted(ev, bucket_secs=3600).orderBy(
        "user_id", "session_start"
    )


@register(
    "st_late_data_watermark_semantics",
    oracle="""
    WITH mx AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS max_ts FROM events)
    SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           COUNT(*) AS n_events
    FROM events, mx
    WHERE CAST(ts AS TIMESTAMP) >= mx.max_ts - INTERVAL '10 minutes'
    GROUP BY 1
    ORDER BY 1
    """,
    survey_ids=("§2.11",),
)
def st_late_data_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics expressed in batch: only events within the
    10-minute watermark horizon of max event time count (what a
    streaming query with withWatermark('ts','10 minutes') would admit
    at end-of-stream)."""
    ev = t(spark, sf_dir, "events")
    horizon = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("wm")
    )
    return (
        ev.join(F.broadcast(horizon))
        .filter(F.col("ts") >= F.col("wm"))
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("window_start")
    )


def streaming_pipeline(spark: SparkSession, source: DataFrame | None = None):
    """Structured Streaming assembly of the same tumbling aggregation:
    readStream -> withWatermark -> window agg. Returns the unstarted
    streaming DataFrame (callers attach writeStream/sink). With no
    source, uses the rate source shaped like events."""
    if source is None:
        source = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", 100)
            .load()
            .select(
                F.col("timestamp").alias("ts"),
                (F.col("value") % 5).cast("string").alias("event_type"),
                (F.col("value") % 100).cast("double").alias("value"),
            )
        )
    if dict(source.dtypes).get("ts") == "timestamp_ntz":
        # withWatermark requires TIMESTAMP; NTZ parquet sources are
        # wall-clock identical under the UTC session timezone
        source = source.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        source.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "st_hourly_top_events",
    oracle="""
    WITH counts AS (
        SELECT TIME_BUCKET(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
               event_type, COUNT(*) AS n_events
        FROM events
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT window_start, event_type, n_events,
               ROW_NUMBER() OVER (PARTITION BY window_start
                                  ORDER BY n_events DESC, event_type) AS rk
        FROM counts
    )
    SELECT window_start, event_type,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    ORDER BY window_start, rk
    """,
    survey_ids=("§2.11", "W4"),
)
def st_hourly_top_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per tumbling hour — the trending-now query.
    In Structured Streaming the windowed counts are the incremental
    stateful stage (same state as `st_tumbling_hourly`); the per-window
    ranking runs on the COMPLETE-mode output or per finalized window
    after the watermark — ranks over open windows would churn every
    micro-batch. Deterministic rank ties by event_type; one windowed
    groupBy + one window-partitioned rank, both keyed by window."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    counts = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    rk = F.row_number().over(
        W.partitionBy("window_start").orderBy(
            F.desc("n_events"), F.col("event_type")
        )
    )
    return (
        counts.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= 3)
        .select("window_start", "event_type", F.col("n_events").cast("long").alias("n_events"), "rk")
        .orderBy("window_start", "rk")
    )


LATENESS_BUCKET_S = 600  # 10-minute lateness histogram buckets


@register(
    "st_lateness_histogram",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events
    ),
    arrival AS (
        -- deterministic bounded-disorder replay: events arrive batched
        -- by day but md5-shuffled WITHIN each day (the fixture itself
        -- is time-ordered, which would make every lateness zero);
        -- lateness = how far behind the running max event-time each
        -- event arrives under that replay
        SELECT event_id, ts,
               MAX(ts) OVER (ORDER BY CAST(ts AS DATE),
                                      MD5(CAST(event_id AS VARCHAR)), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS high_water
        FROM ev
    ),
    lateness AS (
        SELECT (EPOCH_US(high_water) - EPOCH_US(ts)) // 1000000 AS late_s
        FROM arrival
    )
    SELECT CAST(late_s // {LATENESS_BUCKET_S} AS BIGINT) AS bucket,
           CAST(late_s // {LATENESS_BUCKET_S} * {LATENESS_BUCKET_S} AS BIGINT)
               AS bucket_lo_s,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM lateness
    GROUP BY late_s // {LATENESS_BUCKET_S}
    ORDER BY bucket
    """,
    survey_ids=("§2.11", "W3"),
)
def st_lateness_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-lateness histogram — the measurement that JUSTIFIES a
    watermark delay instead of guessing it: for each event, how far
    its event-time lags the stream's running high-water mark at its
    arrival position — under a deterministic bounded-disorder replay
    (day-batched, md5-shuffled within the day; the raw fixture is
    time-ordered and would measure zero) — bucketed to 10-minute bins. The tail of this
    histogram IS the `withWatermark` delay choice: a delay covering
    99.9% of mass drops 0.1% of events — exactly the trade
    `st_late_data_watermark_semantics` demonstrates downstream.
    Lateness in exact integer seconds (microsecond epoch arithmetic);
    the running high-water mark is ``global_running`` max — a
    range-partitioned two-phase prefix scan over the replay order,
    bit-identical to the global-window spelling the oracle keeps but
    with no single-partition stage — plus one map-combined groupBy."""
    from etl_generator_demo_spark.operators.analytics_ext import global_running

    ev = (
        t(spark, sf_dir, "events")
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"))
        .withColumn("_day", F.to_date("ts"))
        .withColumn("_shuf", F.md5(F.col("event_id").cast("string")))
    )
    curved = global_running(
        ev,
        [F.col("_day").asc(), F.col("_shuf").asc(), F.col("event_id").asc()],
        "ts",
        kind="max",
        out_col="_hw",
    )
    late_s = (
        (F.unix_micros(F.col("_hw")) - F.unix_micros(F.col("ts"))) / F.lit(1_000_000)
    ).cast("long")
    bucket = F.floor(late_s / LATENESS_BUCKET_S).cast("long")
    return (
        curved.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "bucket",
            (F.col("bucket") * LATENESS_BUCKET_S).cast("long").alias("bucket_lo_s"),
            "n_events",
        )
        .select("bucket", "bucket_lo_s", "n_events")
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Dynamic-gap session windows — per-event-type inactivity thresholds
# ---------------------------------------------------------------------------
#: Inactivity gap (seconds) by event type: transient events close
#: sessions fast, high-intent events hold them open.
DYN_GAPS_S = {"error": 300, "click": 600, "view": 600, "signup": 1800, "purchase": 3600}


@register(
    "st_session_dynamic_gap",
    oracle=f"""
    WITH iv AS (
        SELECT user_id, event_id,
               EPOCH_US(CAST(ts AS TIMESTAMP)) AS s_us,
               EPOCH_US(CAST(ts AS TIMESTAMP)) + CAST(1000000 AS BIGINT) * CASE event_type
                   WHEN 'error' THEN {DYN_GAPS_S['error']}
                   WHEN 'click' THEN {DYN_GAPS_S['click']}
                   WHEN 'view' THEN {DYN_GAPS_S['view']}
                   WHEN 'signup' THEN {DYN_GAPS_S['signup']}
                   ELSE {DYN_GAPS_S['purchase']} END AS e_us
        FROM events
    ),
    flagged AS (
        SELECT user_id, s_us, e_us, event_id,
               CASE WHEN MAX(e_us) OVER w IS NULL
                         OR s_us >= MAX(e_us) OVER w
                    THEN 1 ELSE 0 END AS new_session
        FROM iv
        WINDOW w AS (PARTITION BY user_id ORDER BY s_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    islands AS (
        SELECT user_id, s_us, e_us,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY s_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_no
        FROM flagged
    )
    SELECT user_id,
           MAKE_TIMESTAMP(MIN(s_us)) AS session_start,
           MAKE_TIMESTAMP(MAX(e_us)) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM islands
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """,
    survey_ids=("§2.11",),
)
def st_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows whose inactivity gap depends on the EVENT — a
    purchase holds the session open for an hour, an error closes it in
    five minutes (``F.session_window`` with a gap COLUMN, the dynamic
    form Structured Streaming executes with the same merging state
    store as the fixed-gap variant). Spark merges an event's
    [ts, ts+gap) into the session while it starts strictly before the
    current session end; the oracle replays exactly that with the
    running-MAX island idiom in microsecond integers (a new session
    starts when s_us >= max prior end). Same user-keyed single
    shuffle + skew posture as `st_session_windows`."""
    gap = F.concat(
        F.coalesce(
            F.element_at(
                F.create_map(
                    *[
                        x
                        for k, v in DYN_GAPS_S.items()
                        for x in (F.lit(k), F.lit(v))
                    ]
                ),
                F.col("event_type"),
            ),
            F.lit(DYN_GAPS_S["purchase"]),
        ).cast("string"),
        F.lit(" seconds"),
    )
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    return (
        ev.groupBy("user_id", F.session_window(F.col("ts"), gap).alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# watermark late-data drop ledger (r11 verdict item 4)
# ---------------------------------------------------------------------------

#: Microbatch size (events per trigger) for the deterministic replay.
WM_LEDGER_BATCH = 500
#: Watermark delay — same 10 minutes the rest of the streaming family
#: uses (justified by `st_lateness_histogram`).
WM_LEDGER_DELAY_US = 10 * 60 * 1_000_000


def watermark_drop_ledger(
    ev: DataFrame,
    order_cols,
    batch_size: int = WM_LEDGER_BATCH,
    delay_us: int = WM_LEDGER_DELAY_US,
) -> DataFrame:
    """Per-microbatch ledger of watermark-dropped rows — the number a
    streaming operator reports as ``numRowsDroppedByWatermark``.

    Structured Streaming (Spark 4, multiple-stateful-operator
    semantics) runs each batch with TWO watermarks, both reproduced
    here, pinned empirically by tests/test_watermark_ledger.py against
    real execution:

    - ``wm_late_us`` — watermarkForLateEvents: the PREVIOUS batch's
      watermark, i.e. (max event time over batches ≤ b−2) − delay.
      A row is DROPPED iff its event time is strictly older. Batches
      0 and 1 run with none (NULL, nothing dropped).
    - ``wm_evict_us`` — watermarkForEviction: (max event time over
      batches ≤ b−1) − delay; state older than this is evicted, and
      this is the value the progress event's ``eventTime.watermark``
      reports.

    ``ev`` must carry ``event_id`` and timestamp ``ts``; ``order_cols``
    is the deterministic ARRIVAL order (a total order — callers pass a
    unique tiebreaker). Construction is all keyed: a distributed
    row_number (`global_row_number`) → batch_id = rn div batch_size,
    one per-batch rollup, an inclusive running max via `global_running`
    shifted by a batch_id+1 self-join (exclusive prefix without a
    window), one event⋈batch keyed join for the drop counts. The
    per-batch lattice is 1/batch_size of the stream — the same
    cardinality the driver's own progress history holds.

    tests/test_watermark_ledger.py replays planted batches through a
    REAL readStream/withWatermark query and asserts this ledger equals
    Spark's reported ``numRowsDroppedByWatermark`` per batch."""
    from etl_generator_demo_spark.operators.analytics_ext import (
        global_row_number,
        global_running,
    )

    d, _n = global_row_number(ev, order_cols, rn_col="_rn")
    b = d.select(
        ((F.col("_rn") - 1) / batch_size).cast("long").alias("batch_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    bs = b.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max("ts_us").alias("bmax_us"),
    )
    incl = global_running(
        bs, [F.col("batch_id").asc()], "bmax_us", kind="max", out_col="hw_us"
    )
    lag1 = incl.select(
        (F.col("batch_id") + 1).alias("batch_id"),
        F.col("hw_us").alias("hw1_us"),
    )
    lag2 = incl.select(
        (F.col("batch_id") + 2).alias("batch_id"),
        F.col("hw_us").alias("hw2_us"),
    )
    wm = (
        bs.join(lag1, "batch_id", "left")
        .join(lag2, "batch_id", "left")
        .select(
            "batch_id",
            "n_events",
            (F.col("hw2_us") - F.lit(delay_us)).alias("wm_late_us"),
            (F.col("hw1_us") - F.lit(delay_us)).alias("wm_evict_us"),
        )
    )
    drops = (
        b.join(wm.select("batch_id", "wm_late_us"), "batch_id")
        .groupBy("batch_id")
        .agg(
            F.count(
                F.when(
                    F.col("wm_late_us").isNotNull()
                    & (F.col("ts_us") < F.col("wm_late_us")),
                    1,
                )
            )
            .cast("long")
            .alias("n_dropped")
        )
    )
    return (
        wm.join(drops, "batch_id")
        .select(
            "batch_id",
            "n_events",
            "wm_late_us",
            "wm_evict_us",
            "n_dropped",
            (F.col("n_events") - F.col("n_dropped")).alias("n_kept"),
        )
        .orderBy("batch_id")
    )


@register(
    "st_watermark_drop_ledger",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    ord AS (
        SELECT ts,
               ROW_NUMBER() OVER (ORDER BY CAST(ts AS DATE),
                                           MD5(CAST(event_id AS VARCHAR)),
                                           event_id) - 1 AS rn
        FROM ev
    ),
    b AS (
        SELECT EPOCH_US(ts) AS ts_us, rn // {WM_LEDGER_BATCH} AS batch_id
        FROM ord
    ),
    bs AS (
        SELECT batch_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               MAX(ts_us) AS bmax_us
        FROM b GROUP BY batch_id
    ),
    wm AS (
        SELECT batch_id, n_events,
               MAX(bmax_us) OVER (ORDER BY batch_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 2 PRECEDING)
                   - {WM_LEDGER_DELAY_US} AS wm_late_us,
               MAX(bmax_us) OVER (ORDER BY batch_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING)
                   - {WM_LEDGER_DELAY_US} AS wm_evict_us
        FROM bs
    ),
    dr AS (
        SELECT b.batch_id,
               CAST(COUNT(*) FILTER (WHERE w.wm_late_us IS NOT NULL
                                       AND b.ts_us < w.wm_late_us) AS BIGINT)
                   AS n_dropped
        FROM b JOIN wm w USING (batch_id)
        GROUP BY b.batch_id
    )
    SELECT CAST(w.batch_id AS BIGINT) AS batch_id, w.n_events,
           CAST(w.wm_late_us AS BIGINT) AS wm_late_us,
           CAST(w.wm_evict_us AS BIGINT) AS wm_evict_us,
           d.n_dropped,
           w.n_events - d.n_dropped AS n_kept
    FROM wm w JOIN dr d USING (batch_id)
    ORDER BY w.batch_id
    """,
    survey_ids=("§2.11", "W3", "A1"),
)
def st_watermark_drop_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operational number every streaming user asks first: how many
    late rows would the watermark DROP, per microbatch — computed in
    batch over the same deterministic bounded-disorder replay as
    `st_lateness_histogram` (day-batched arrival, md5-shuffled within
    the day; the raw fixture is time-ordered and would drop zero),
    cut into {WM_LEDGER_BATCH}-event microbatches. Together with the
    lateness histogram this closes the loop: the histogram JUSTIFIES
    the delay, the ledger PRICES it."""
    ev = (
        t(spark, sf_dir, "events")
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"))
        .withColumn("_day", F.to_date("ts"))
        .withColumn("_shuf", F.md5(F.col("event_id").cast("string")))
    )
    return watermark_drop_ledger(
        ev, [F.col("_day").asc(), F.col("_shuf").asc(), F.col("event_id").asc()]
    )


#: Delays swept by the ledger knob curve (minutes).
WM_DELAY_SWEEP_MIN = (5, 10, 30, 60)


@register(
    "st_watermark_delay_sweep",
    oracle=f"""
    WITH delays(d) AS (VALUES {", ".join(f"({d})" for d in WM_DELAY_SWEEP_MIN)}),
    ev AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    ord AS (
        SELECT ts,
               ROW_NUMBER() OVER (ORDER BY CAST(ts AS DATE),
                                           MD5(CAST(event_id AS VARCHAR)),
                                           event_id) - 1 AS rn
        FROM ev
    ),
    b AS (
        SELECT EPOCH_US(ts) AS ts_us, rn // {WM_LEDGER_BATCH} AS batch_id
        FROM ord
    ),
    bs AS (
        SELECT batch_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               MAX(ts_us) AS bmax_us
        FROM b GROUP BY batch_id
    ),
    hw AS (
        SELECT batch_id, n_events,
               MAX(bmax_us) OVER (ORDER BY batch_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 2 PRECEDING) AS hw2_us
        FROM bs
    ),
    dr AS (
        SELECT delays.d,
               CAST(COUNT(*) FILTER (
                   WHERE h.hw2_us IS NOT NULL
                     AND b.ts_us < h.hw2_us - CAST(delays.d AS BIGINT) * 60000000
               ) AS BIGINT) AS n_dropped
        FROM b
        JOIN hw h USING (batch_id)
        CROSS JOIN delays
        GROUP BY delays.d
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b)
    SELECT CAST(d AS BIGINT) AS delay_min, dr.n_dropped,
           CAST(dr.n_dropped * 1000000 // tot.n AS BIGINT) AS drop_rate_e6
    FROM dr CROSS JOIN tot
    ORDER BY delay_min
    """,
    survey_ids=("§2.11", "W3", "A1"),
)
def st_watermark_delay_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark-delay knob's measured curve: total late-dropped
    rows (Spark-4 two-watermark semantics, same replay and batching as
    `st_watermark_drop_ledger`) at 5/10/30/60-minute delays — the
    completeness-vs-state-size trade quantified, closing the loop the
    lateness histogram opened: histogram → candidate delays → this
    curve prices each → the ledger audits the chosen one in
    production. One replay + one batch rollup serve all four delays
    (the per-event drop test against the 2-lagged high water is
    arithmetic per delay, no extra shuffle)."""
    from etl_generator_demo_spark.operators.analytics_ext import (
        global_row_number,
        global_running,
    )

    ev = (
        t(spark, sf_dir, "events")
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"))
        .withColumn("_day", F.to_date("ts"))
        .withColumn("_shuf", F.md5(F.col("event_id").cast("string")))
    )
    d, _n = global_row_number(
        ev,
        [F.col("_day").asc(), F.col("_shuf").asc(), F.col("event_id").asc()],
        rn_col="_rn",
    )
    b = d.select(
        ((F.col("_rn") - 1) / WM_LEDGER_BATCH).cast("long").alias("batch_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    bs = b.groupBy("batch_id").agg(F.max("ts_us").alias("bmax_us"))
    incl = global_running(
        bs, [F.col("batch_id").asc()], "bmax_us", kind="max", out_col="hw_us"
    )
    lag2 = incl.select(
        (F.col("batch_id") + 2).alias("batch_id"),
        F.col("hw_us").alias("hw2_us"),
    )
    delays = spark.createDataFrame(
        [(x,) for x in WM_DELAY_SWEEP_MIN], "d int"
    )
    dr = (
        b.join(lag2, "batch_id", "left")
        .crossJoin(F.broadcast(delays))
        .groupBy("d")
        .agg(
            F.count(
                F.when(
                    F.col("hw2_us").isNotNull()
                    & (
                        F.col("ts_us")
                        < F.col("hw2_us")
                        - F.col("d").cast("long") * 60_000_000
                    ),
                    1,
                )
            )
            .cast("long")
            .alias("n_dropped")
        )
    )
    tot = b.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        dr.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").cast("long").alias("delay_min"),
            "n_dropped",
            F.expr("n_dropped * 1000000 div n").cast("long").alias(
                "drop_rate_e6"
            ),
        )
        .orderBy("delay_min")
    )


#: Microbatch sizes swept for the trigger-sizing knob (events per
#: trigger in the deterministic replay).
WM_BATCH_SIZE_SWEEP = (250, 500, 1000, 2000)


def _batch_sweep_oracle() -> str:
    arms = []
    for s in WM_BATCH_SIZE_SWEEP:
        arms.append(f"""
        SELECT CAST({s} AS BIGINT) AS batch_size,
               CAST(MAX(batch_id) + 1 AS BIGINT) AS n_batches,
               CAST(SUM(n_dropped) AS BIGINT) AS n_dropped
        FROM (
            SELECT b.batch_id,
                   CAST(COUNT(*) FILTER (
                       WHERE h.hw2_us IS NOT NULL
                         AND b.ts_us < h.hw2_us - {WM_LEDGER_DELAY_US}
                   ) AS BIGINT) AS n_dropped
            FROM (
                SELECT ts_us, rn // {s} AS batch_id FROM ord
            ) b
            JOIN (
                SELECT batch_id,
                       MAX(bmax_us) OVER (ORDER BY batch_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 2 PRECEDING) AS hw2_us
                FROM (
                    SELECT rn // {s} AS batch_id, MAX(ts_us) AS bmax_us
                    FROM (SELECT ts_us, rn FROM ord) GROUP BY batch_id
                )
            ) h USING (batch_id)
            GROUP BY b.batch_id
        )""")
    union = "\n        UNION ALL\n".join(arms)
    return f"""
    WITH ev AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    ord AS (
        SELECT EPOCH_US(ts) AS ts_us,
               ROW_NUMBER() OVER (ORDER BY CAST(ts AS DATE),
                                           MD5(CAST(event_id AS VARCHAR)),
                                           event_id) - 1 AS rn
        FROM ev
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ord)
    SELECT a.batch_size, a.n_batches, a.n_dropped,
           CAST(a.n_dropped * 1000000 // tot.n AS BIGINT) AS drop_rate_e6
    FROM ({union}) a CROSS JOIN tot
    ORDER BY a.batch_size
    """


@register(
    "st_batch_size_drop_sweep",
    oracle=_batch_sweep_oracle(),
    survey_ids=("§2.11", "W3", "A1"),
)
def st_batch_size_drop_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigger-sizing knob curve: the drop ledger's late-loss at
    microbatch sizes 250/500/1000/2000 events. Bigger triggers lag the
    watermark less often (it advances once per batch), so the 2-lagged
    late-filter threshold trails further behind event time and FEWER
    rows drop — the throughput-vs-freshness trade a trigger interval
    encodes, measured on the same deterministic bounded-disorder
    replay as `st_watermark_drop_ledger` (whose delay knob
    `st_watermark_delay_sweep` prices on the other axis).

    Four ledger evaluations over ONE shared ranked replay (batching is
    arithmetic on the rank; each size re-rolls the batch lattice —
    1/size of the stream — and re-reads the event relation once)."""
    from etl_generator_demo_spark.operators.analytics_ext import (
        global_row_number,
    )

    ev = (
        t(spark, sf_dir, "events")
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"))
        .withColumn("_day", F.to_date("ts"))
        .withColumn("_shuf", F.md5(F.col("event_id").cast("string")))
    )
    # Lazy 1-row denominator crossJoined into the plan (r12 advice):
    # an eager ev.count() here made plan-only consumers pay a real
    # scan at DataFrame-construction time, and keeping the div inside
    # the plan preserves the oracle's div-by-zero behavior verbatim.
    tot = ev.agg(F.count(F.lit(1)).cast("long").alias("_total_n"))
    parts = []
    for s in WM_BATCH_SIZE_SWEEP:
        led = watermark_drop_ledger(
            ev,
            [F.col("_day").asc(), F.col("_shuf").asc(), F.col("event_id").asc()],
            batch_size=s,
        )
        parts.append(
            led.agg(
                F.lit(s).cast("long").alias("batch_size"),
                F.count(F.lit(1)).cast("long").alias("n_batches"),
                F.sum("n_dropped").cast("long").alias("n_dropped"),
            )
            .crossJoin(F.broadcast(tot))
            .select(
                "batch_size",
                "n_batches",
                "n_dropped",
                F.expr("CAST(n_dropped * 1000000 div _total_n AS LONG)").alias(
                    "drop_rate_e6"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("batch_size")


# ---------------------------------------------------------------------------
# session-gap sweep (the sessionization knob's measured curve)
# ---------------------------------------------------------------------------

#: Inactivity gaps swept (minutes).
SESSION_GAP_SWEEP_MIN = (5, 15, 30, 60)


def _gap_sweep_oracle() -> str:
    gaps = ", ".join(f"({g})" for g in SESSION_GAP_SWEEP_MIN)
    return f"""
    WITH gaps(g) AS (VALUES {gaps}),
    ev AS (
        SELECT user_id, EPOCH_US(CAST(ts AS TIMESTAMP)) AS ts_us
        FROM events
    ),
    marked AS (
        SELECT g, user_id, ts_us,
               CASE WHEN LAG(ts_us) OVER w IS NULL
                         OR ts_us - LAG(ts_us) OVER w > CAST(g AS BIGINT) * 60000000
                    THEN 1 ELSE 0 END AS new_session
        FROM ev CROSS JOIN gaps
        WINDOW w AS (PARTITION BY g, user_id ORDER BY ts_us)
    ),
    islands AS (
        SELECT g, user_id,
               SUM(new_session) OVER (PARTITION BY g, user_id ORDER BY ts_us
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    ),
    sessions AS (
        SELECT g, user_id, session_no, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM islands GROUP BY g, user_id, session_no
    )
    SELECT CAST(g AS BIGINT) AS gap_min,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) * 1000000 // COUNT(*) AS BIGINT)
               AS mean_events_e6,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events
    FROM sessions
    GROUP BY g
    ORDER BY gap_min
    """


@register(
    "st_session_gap_sweep",
    oracle=_gap_sweep_oracle(),
    survey_ids=("§2.11", "W1", "W3", "A1"),
)
def st_session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sessionization knob's measured curve: session count, mean
    size, and largest session at 5/15/30/60-minute inactivity gaps —
    the number that justifies `st_session_windows`' 30-minute gap
    instead of folklore (where the curve flattens, the gap stops
    mattering). Spelled gaps-and-islands over (gap × events) so ONE
    scan serves all four gaps; per-(gap, user) windows shuffle the
    events relation once on the compound key — hot users spread
    4-ways for free. Microsecond integer arithmetic end-to-end; ties
    in ts cannot flip any boundary flag (diff 0 is never > gap), so
    the per-gap session multiset is total-order-free."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    gaps = spark.createDataFrame(
        [(g,) for g in SESSION_GAP_SWEEP_MIN], "g int"
    )
    w = Window.partitionBy("g", "user_id").orderBy("ts_us")
    marked = ev.crossJoin(F.broadcast(gaps)).select(
        "g",
        "user_id",
        "ts_us",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | (
                F.col("ts_us") - F.lag("ts_us").over(w)
                > F.col("g").cast("long") * 60_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    islands = marked.select(
        "g",
        "user_id",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_no"),
    )
    sessions = islands.groupBy("g", "user_id", "session_no").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    return (
        sessions.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.expr("sum(n_events) * 1000000 div count(1)")
            .cast("long")
            .alias("mean_events_e6"),
            F.max("n_events").cast("long").alias("max_session_events"),
        )
        .select(
            F.col("g").cast("long").alias("gap_min"),
            "n_sessions",
            "mean_events_e6",
            "max_session_events",
        )
        .orderBy("gap_min")
    )
