"""Streaming CDC apply — SURVEY.md §2.11 [EXT] × D1.

`stream_cdc_running_state` folds an insert/update/delete change
stream into the running current snapshot with ONE declarative keyed
aggregate: max(struct(ts, seq, op, value)) per key is latest-op-wins
(struct comparison is lexicographic — event time, then the log
sequence number), and a post-aggregate tombstone filter hides deleted
keys while keeping their state row (so a later re-insert wins
normally — delete-then-insert needs no special casing).

State sizing is the honest part: a running snapshot's state IS the
snapshot (one struct per live key — the exact size of the MERGE INTO
target it replaces), so no watermark eviction applies; this is
inherent to the operator, not a leak. At 100 TB/day the state is
|distinct keys|, not |events| — the same reason the batch twin
(`d_cdc_apply_snapshot`, below) reduces before joining.

Batch twin `st_cdc_running_snapshot` runs the SAME function on the
batch relation (the aggregate spelling is mode-agnostic) and is
DuckDB-oracled; the streaming execution path — cross-micro-batch
latest-wins, tombstone flips across batch boundaries, complete-mode
re-emission — is pinned by tests/test_streaming_cdc.py on a file
stream.

Reference grounding: db_connector.py:244-251 (D1 commits arbitrary
DML); the change stream is that contract's at-scale arrival shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.registry import register

#: Deterministic event_type -> CDC op mapping: signup is the row
#: birth, error is the tombstone, every other interaction upserts.
_CDC_OP_SQL = (
    "CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D' "
    "ELSE 'U' END"
)


def cdc_snapshot(log: DataFrame) -> DataFrame:
    """Apply an ordered CDC log (user_id, event_id, ts, op IN I/U/D,
    value_cents) to its current snapshot: latest op per key wins
    (ordered by ts then event_id — the log sequence number), a last
    op of 'D' removes the key, and an I/U after a D legitimately
    re-creates it. Replay-idempotent by construction: ops are counted
    with COUNT(DISTINCT event_id), so re-delivering the same log
    section (at-least-once transport) changes nothing — pinned by
    pytest.

    Scale: one shuffle on user_id shared by the ranking window and
    the per-key op counts (same key -> same exchange); no self-join,
    no driver collect. The snapshot is what a MERGE INTO target would
    hold after draining the stream."""
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = log.withColumn("rn", F.row_number().over(w))
    stats = log.groupBy("user_id").agg(
        F.countDistinct("event_id").cast("long").alias("n_ops"),
        F.countDistinct(
            F.when(F.col("op") == "D", F.col("event_id"))
        )
        .cast("long")
        .alias("n_tombstones"),
    )
    return (
        ranked.filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .join(stats, "user_id")
        .select(
            "user_id",
            F.col("op").alias("last_op"),
            F.col("value_cents").alias("last_value_cents"),
            F.col("ts").alias("last_ts"),
            "n_ops",
            "n_tombstones",
        )
        .orderBy("user_id")
    )


@register(
    "d_cdc_apply_snapshot",
    oracle=f"""
    WITH log AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               {_CDC_OP_SQL} AS op,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS value_cents
        FROM events
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        ) AS rn
        FROM log
    ),
    stats AS (
        SELECT user_id,
               CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ops,
               CAST(COUNT(DISTINCT CASE WHEN op = 'D' THEN event_id END)
                    AS BIGINT) AS n_tombstones
        FROM log GROUP BY user_id
    )
    SELECT r.user_id, r.op AS last_op, r.value_cents AS last_value_cents,
           r.ts AS last_ts, s.n_ops, s.n_tombstones
    FROM ranked r JOIN stats s USING (user_id)
    WHERE r.rn = 1 AND r.op <> 'D'
    ORDER BY r.user_id
    """,
    survey_ids=("D1", "W1", "A1", "F7"),
)
def d_cdc_apply_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: the events feed read as an insert/update/delete
    change log (signup=I, error=D tombstone, other=U), reduced to the
    current snapshot — latest op per user wins, tombstoned users
    absent, post-tombstone activity re-creates the row. The at-scale
    spelling of the reference's D1 DML commit (db_connector.py:
    244-251): a 100 TB pipeline consumes the statement stream as a
    log and folds it into state with one keyed shuffle, never
    row-at-a-time execute+commit. Value cents are exact integers
    (2-decimal doubles scale to within 1e-10 of an integer, so
    ROUND's half-mode can never matter)."""
    log = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.expr(_CDC_OP_SQL).alias("op"),
        F.round(F.col("value") * 100, 0).cast("long").alias("value_cents"),
    )
    return cdc_snapshot(log)




def stream_cdc_running_state(log: DataFrame) -> DataFrame:
    """Fold a CDC log (user_id, event_id, ts, op IN I/U/D,
    value_cents) — streaming or batch — into the current snapshot.
    One keyed max(struct) aggregate; works identically under
    complete-mode streaming (state = one struct per key) and batch
    (plain hash aggregate with map-side combine)."""
    agg = log.groupBy("user_id").agg(
        F.max(
            F.struct("ts", "event_id", "op", "value_cents")
        ).alias("m")
    )
    return agg.select(
        "user_id",
        F.col("m.op").alias("last_op"),
        F.col("m.value_cents").alias("last_value_cents"),
        F.col("m.ts").alias("last_ts"),
    ).filter(F.col("last_op") != "D")


@register(
    "st_cdc_running_snapshot",
    oracle=f"""
    WITH log AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               {_CDC_OP_SQL} AS op,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS value_cents
        FROM events
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        ) AS rn
        FROM log
    )
    SELECT user_id, op AS last_op, value_cents AS last_value_cents,
           ts AS last_ts
    FROM ranked WHERE rn = 1 AND op <> 'D'
    ORDER BY user_id
    """,
    survey_ids=("D1", "A1", "F7"),
)
def st_cdc_running_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming CDC fold: the same max(struct)
    aggregate over the events feed read as a change log. Differs from
    `d_cdc_apply_snapshot` in composition on purpose — aggregate
    arg-max (streamable, no window) vs ranking window + op counts
    (the richer batch report); the snapshot columns must agree, which
    the oracle pins through the ROW_NUMBER spelling."""
    log = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.expr(_CDC_OP_SQL).alias("op"),
        F.round(F.col("value") * 100, 0).cast("long").alias("value_cents"),
    )
    return stream_cdc_running_state(log).orderBy("user_id")


@register(
    "st_state_capacity_by_day",
    oracle="""
    WITH ev AS (
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events
    ),
    first_seen AS (
        SELECT user_id, MIN(day) AS first_day FROM ev GROUP BY user_id
    ),
    per_day AS (
        SELECT day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_keys
        FROM ev GROUP BY day
    ),
    new_keys AS (
        SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new_keys
        FROM first_seen GROUP BY first_day
    )
    SELECT p.day, p.n_events, p.n_active_keys,
           CAST(COALESCE(k.n_new_keys, 0) AS BIGINT) AS n_new_keys,
           CAST(SUM(COALESCE(k.n_new_keys, 0))
                OVER (ORDER BY p.day) AS BIGINT) AS cum_keys
    FROM per_day p LEFT JOIN new_keys k ON k.day = p.day
    ORDER BY p.day
    """,
    survey_ids=("A1", "A3", "W3", "F4"),
)
def st_state_capacity_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming state-store capacity planning: per event-time day,
    arrivals, distinct active keys (≈ state size of a keyed operator
    with a one-day watermark lag — dedup, sessionization, the CDC fold
    above), first-seen keys, and the cumulative key count (state size
    with NO eviction — the running-snapshot bound). The sizing
    numbers that turn 'watermark lag × key-arrival rate' from an
    argument in a docstring into a measured table per feed. The
    running total is a window over the DAY relation — calendar-
    bounded (the Holt-lattice argument), never a per-event global
    window."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").cast("date").alias("day")
    )
    per_day = ev.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_active_keys"),
    )
    new_keys = (
        ev.groupBy("user_id")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_keys"))
    )
    from pyspark.sql.window import Window

    joined = per_day.join(new_keys, "day", "left").select(
        "day",
        "n_events",
        "n_active_keys",
        F.coalesce(F.col("n_new_keys"), F.lit(0))
        .cast("long")
        .alias("n_new_keys"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "day",
        "n_events",
        "n_active_keys",
        "n_new_keys",
        F.sum("n_new_keys").over(w).cast("long").alias("cum_keys"),
    ).orderBy("day")
