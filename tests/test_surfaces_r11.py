"""Round-11 operator tests: CDC apply, the packing and DoReMi sweeps,
query likelihood and the l-diversity audit."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from etl_generator_demo_spark.operators.surfaces_r11 import (
    cdc_snapshot,
    d_cdc_apply_snapshot,
)

SF = "/root/testdata/sf0.001"


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


def test_cdc_fixture_snapshot_excludes_tombstoned(spark):
    """On the real fixture: every user whose latest event is 'error'
    is absent; everyone else present exactly once."""
    from etl_generator_demo_spark.operators.relational import t

    ev = t(spark, SF, "events")
    w_last = (
        ev.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("m"))
        .select("user_id", F.col("m.event_type").alias("last_type"))
    )
    expect_live = {
        r["user_id"]
        for r in w_last.filter(F.col("last_type") != "error").collect()
    }
    got = d_cdc_apply_snapshot(spark, SF).collect()
    assert {r["user_id"] for r in got} == expect_live
    assert len(got) == len({r["user_id"] for r in got})


def test_packing_sweep_monotone_tradeoff(spark):
    """The tuning curve's contract: doubling the context length can
    only reduce (or keep) chunk count; straddle counts stay bounded by
    doc count; and the L -> infinity limit (one chunk per source, zero
    interior boundaries) is approached monotonically in chunks."""
    from etl_generator_demo_spark.operators.surfaces_r11 import (
        PACK_SWEEP_LENGTHS,
        x4_packing_context_sweep,
    )

    rows = {r["context_len"]: r for r in
            x4_packing_context_sweep(spark, SF).collect()}
    assert set(rows) == set(PACK_SWEEP_LENGTHS)
    prev_chunks = None
    for L in sorted(rows):
        r = rows[L]
        assert 0 <= r["n_straddling_docs"] <= r["n_docs"]
        assert r["straddle_rate_e6"] == (
            r["n_straddling_docs"] * 1_000_000 // r["n_docs"]
        )
        if prev_chunks is not None:
            assert r["n_chunks"] <= prev_chunks
        prev_chunks = r["n_chunks"]


def test_doremi_weights_sum_exact_and_monotone(spark):
    """The update's contracts: emitted weights sum to EXACTLY 10^6
    (Hamilton apportionment — no float share survives), excess losses
    are centered (min <= 0 <= max over sources), and weight order
    follows excess-loss order (multiplicative weights are monotone in
    the exponent; Hamilton's ±1 cannot flip an order separated by
    >=2 units — assert monotone up to that slack)."""
    from etl_generator_demo_spark.operators.surfaces_r11 import (
        DOREMI_SCALE,
        x4_doremi_weight_step,
    )

    rows = x4_doremi_weight_step(spark, SF).collect()
    assert sum(r["new_w_e6"] for r in rows) == DOREMI_SCALE
    ex = [r["excess_e4"] for r in rows]
    assert min(ex) <= 0 <= max(ex)
    by_excess = sorted(rows, key=lambda r: (r["excess_e4"], r["source"]))
    ws = [r["new_w_e6"] for r in by_excess]
    for a, b in zip(ws, ws[1:]):
        assert b >= a - 1  # Hamilton slack
    # harder-than-average sources must out-weigh the uniform share
    n = len(rows)
    for r in rows:
        if r["excess_e4"] > 0:
            assert r["new_w_e6"] > DOREMI_SCALE // n - 1


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


def test_query_likelihood_closed_form(spark):
    """QL recomputed in plain Python over the collected corpus (same
    mu, same e6 floors) must match the operator's top-k exactly, and
    every doc's score must be <= 0 (log-probs)."""
    import math

    from etl_generator_demo_spark.operators.relational import t
    from etl_generator_demo_spark.operators.retrieval import (
        BM25_QUERY_TERMS,
        BM25_TOP_K,
    )
    from etl_generator_demo_spark.operators.surfaces_r11 import (
        QL_MU,
        x4_query_likelihood_topk,
    )

    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in t(spark, SF, "documents").select("doc_id", "text").collect()
    }
    c_len = sum(len(v) for v in docs.values())
    ctf = {
        q: sum(toks.count(q) for toks in docs.values())
        for q in BM25_QUERY_TERMS
    }
    want = []
    for did, toks in docs.items():
        dl = len(toks)
        score = 0
        hits = 0
        for q in BM25_QUERY_TERMS:
            tf = toks.count(q)
            hits += tf > 0
            score += math.floor(
                math.log((tf + QL_MU * (ctf[q] / c_len)) / (dl + QL_MU))
                * 1_000_000
            )
        want.append((did, score, hits))
    want.sort(key=lambda x: (-x[1], x[0]))
    got = [
        (r["doc_id"], r["ql_e6"], r["n_terms_hit"])
        for r in x4_query_likelihood_topk(spark, SF).collect()
    ]
    assert got == want[:BM25_TOP_K]
    assert all(s < 0 for _, s, _ in got)


def test_l_diversity_flags_planted_homogeneous_class(spark, tmp_path):
    """Planted leak: a QI class where every member shares the
    sensitive value must be flagged 'homogeneous' even though it is
    k-anonymous by size; a balanced class must not be flagged."""
    from datetime import datetime

    from etl_generator_demo_spark.operators.surfaces_r11 import (
        x4_l_diversity_audit,
    )

    rows = (
        # class (2024-01-01, bucket 0): 10 members, ALL 'error' -> leak
        [(i, datetime(2024, 1, 1), 100 + i, "error", 5.0, "{}")
         for i in range(10)]
        # class (2024-01-02, bucket 0): 9 members, 3 types -> clean
        + [(100 + i, datetime(2024, 1, 2), 200 + i,
            ["click", "view", "purchase"][i % 3], 5.0, "{}")
           for i in range(9)]
    )
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = x4_l_diversity_audit(spark, str(tmp_path)).collect()
    flagged = {(str(r["day"]), r["risk"]) for r in out}
    assert ("2024-01-01", "homogeneous") in flagged
    assert all(str(r["day"]) != "2024-01-02" for r in out)
    leak = next(r for r in out if str(r["day"]) == "2024-01-01")
    assert leak["p_max_e6"] == 1_000_000 and leak["n_sensitive"] == 1
