"""Streaming CDC apply: real file-stream execution of the running
snapshot fold. The batch twin is oracle-pinned; these tests pin the
STREAMING path — latest-op-wins across micro-batch boundaries,
tombstones deleting keys born in earlier batches, re-inserts
resurrecting keys tombstoned in earlier batches, and complete-mode
state equaling the batch twin on the same data."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from etl_generator_demo_spark.streaming.cdc import _CDC_OP_SQL, cdc_snapshot, d_cdc_apply_snapshot

SCHEMA = (
    "user_id long, event_id long, ts timestamp, op string,"
    " value_cents long"
)


def _rows(spec):
    return [
        (u, e, datetime(2024, 1, 1, 0, 0, s), op, v)
        for (u, e, s, op, v) in spec
    ]


def _run_stream(spark, src_dir) -> dict[int, dict]:
    from etl_generator_demo_spark.streaming.cdc import (
        stream_cdc_running_state,
    )

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)  # one slice per micro-batch
        .parquet(str(src_dir))
    )
    q = (
        stream_cdc_running_state(stream)
        .writeStream.format("memory")
        .queryName("cdc_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM cdc_sink").collect()
    spark.catalog.dropTempView("cdc_sink")
    return {r["user_id"]: r.asDict() for r in out}


@pytest.fixture()
def sliced_src(spark, tmp_path):
    """Three micro-batch slices exercising every cross-batch
    transition: update-over-batch, delete-after-birth, and
    resurrection-after-delete."""
    slices = [
        # batch 1: three births
        [(1, 10, 1, "I", 100), (2, 20, 1, "I", 200), (3, 30, 1, "I", 300)],
        # batch 2: update user 1, tombstone user 2
        [(1, 11, 2, "U", 150), (2, 21, 2, "D", 0)],
        # batch 3: resurrect user 2, tombstone user 3
        [(2, 22, 3, "I", 999), (3, 31, 3, "D", 0)],
    ]
    src = tmp_path / "cdcsrc"
    for spec in slices:
        df = spark.createDataFrame(_rows(spec), SCHEMA)
        df.coalesce(1).write.mode("append").parquet(str(src))
    return src


@pytest.mark.slow
def test_stream_cdc_cross_batch_transitions(spark, sliced_src):
    got = _run_stream(spark, sliced_src)
    assert set(got) == {1, 2}  # user 3 tombstoned in the last batch
    assert got[1]["last_op"] == "U"
    assert got[1]["last_value_cents"] == 150  # batch-2 update won
    assert got[2]["last_op"] == "I"
    assert got[2]["last_value_cents"] == 999  # resurrection after D


def test_stream_cdc_matches_batch_twin_on_fixture(spark, tmp_path):
    """Complete-mode streaming state over the real events feed equals
    the oracle-pinned batch twin row-for-row."""
    from etl_generator_demo_spark.operators.relational import t
    from etl_generator_demo_spark.streaming.cdc import (
        st_cdc_running_snapshot,
    )

    sf = "/root/testdata/sf0.001"
    log = t(spark, sf, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.expr(_CDC_OP_SQL).alias("op"),
        F.round(F.col("value") * 100, 0).cast("long").alias("value_cents"),
    )
    src = tmp_path / "evsrc"
    # two arbitrary slices so the stream crosses a batch boundary
    log.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    log.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    got = _run_stream(spark, src)
    want = {
        r["user_id"]: r.asDict()
        for r in st_cdc_running_snapshot(spark, sf).collect()
    }
    assert got == want


def _log(spark, rows):
    return spark.createDataFrame(
        [
            (u, e, datetime(2024, 1, 1, 0, 0, s), op, v)
            for (u, e, s, op, v) in rows
        ],
        "user_id long, event_id long, ts timestamp, op string,"
        " value_cents long",
    )


def test_cdc_tombstone_removes_and_reinsert_recreates(spark):
    rows = [
        (1, 10, 1, "I", 100),  # born
        (1, 11, 2, "U", 200),  # updated
        (1, 12, 3, "D", 0),  # tombstoned -> absent
        (2, 20, 1, "I", 500),
        (2, 21, 2, "D", 0),
        (2, 22, 3, "I", 700),  # re-created after delete
    ]
    out = {r["user_id"]: r for r in cdc_snapshot(_log(spark, rows)).collect()}
    assert 1 not in out  # last op is the tombstone
    assert out[2]["last_op"] == "I"
    assert out[2]["last_value_cents"] == 700
    assert out[2]["n_ops"] == 3 and out[2]["n_tombstones"] == 1


def test_cdc_replay_idempotent(spark):
    """At-least-once transport: applying the log unioned with itself
    (every event delivered twice) yields the identical snapshot —
    op counts are per distinct event_id, latest-wins is unaffected."""
    rows = [
        (1, 10, 1, "I", 100),
        (1, 11, 2, "U", 250),
        (2, 20, 1, "I", 500),
        (2, 21, 5, "D", 0),
        (3, 30, 4, "U", 900),
    ]
    log = _log(spark, rows)
    once = cdc_snapshot(log).collect()
    twice = cdc_snapshot(log.unionByName(log)).collect()
    assert once == twice
    assert {r["user_id"] for r in once} == {1, 3}


def test_cdc_order_is_ts_then_seq(spark):
    """Same-timestamp ops resolve by event_id (the log sequence
    number), not arrival order."""
    rows = [
        (1, 11, 5, "U", 333),  # higher seq at the same ts wins
        (1, 10, 5, "U", 111),
    ]
    out = cdc_snapshot(_log(spark, rows)).collect()
    assert out[0]["last_value_cents"] == 333


def test_cdc_fixture_snapshot_excludes_tombstoned(spark, sf_dir):
    """On the real fixture: every user whose latest event is 'error'
    is absent; everyone else present exactly once."""
    from etl_generator_demo_spark.operators.relational import t

    ev = t(spark, sf_dir, "events")
    w_last = (
        ev.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("m"))
        .select("user_id", F.col("m.event_type").alias("last_type"))
    )
    expect_live = {
        r["user_id"]
        for r in w_last.filter(F.col("last_type") != "error").collect()
    }
    got = d_cdc_apply_snapshot(spark, sf_dir).collect()
    assert {r["user_id"] for r in got} == expect_live
    assert len(got) == len({r["user_id"] for r in got})


def test_cdc_randomized_against_python_fold(spark):
    """Bulk randomized differential test: 300 independently random
    CDC logs (random op sequences, shuffled delivery order, duplicate
    deliveries, ts ties broken by seq) validated in ONE Spark job —
    each case lives in its own user_id namespace — against a plain
    Python latest-op-wins fold."""
    import random

    rng = random.Random(0xCDC11)
    rows = []
    expected: dict[int, tuple] = {}
    for case in range(300):
        base = case * 1000
        n_keys = rng.randint(1, 3)
        for k in range(n_keys):
            uid = base + k
            n_ops = rng.randint(1, 8)
            log = []
            for seq in range(n_ops):
                op = rng.choice("IUD")
                ts_s = rng.randint(0, 5)  # deliberate ts collisions
                log.append((uid, case * 10_000 + k * 100 + seq,
                            ts_s, op, rng.randint(0, 999)))
            # python fold: latest by (ts, seq/event_id)
            last = max(log, key=lambda r: (r[2], r[1]))
            n_tomb = len({r[1] for r in log if r[3] == "D"})
            if last[3] != "D":
                expected[uid] = (last[3], last[4], len(log), n_tomb)
            # at-least-once: re-deliver a random subset
            dup = [r for r in log if rng.random() < 0.4]
            rows.extend(log + dup)
    rng.shuffle(rows)  # arrival order is not log order
    df = _log(spark, rows)
    got = {
        r["user_id"]: (
            r["last_op"],
            r["last_value_cents"],
            r["n_ops"],
            r["n_tombstones"],
        )
        for r in cdc_snapshot(df).collect()
    }
    assert got == expected
