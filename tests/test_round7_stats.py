"""Closed-form anchors for the round-7 statistics suite.

The DuckDB oracle proves Spark ≡ DuckDB; these tests prove both equal
the MATH, on constructed inputs whose answers are known in closed
form (identical-ranking Spearman = +1, clockwork burstiness = −1,
equal-length Gini = 0, …).
A shared implementation bug that fooled both engines identically
would pass the differential gate but fails here.
"""

from __future__ import annotations

import datetime


def _write(df, tmp_path, table, sub=None):
    """Write ``df`` as ``<tmp>/<sub or table>/<table>.parquet`` and
    return the sf_dir-shaped parent directory."""
    out = str(tmp_path / (sub or table))
    df.write.mode("overwrite").parquet(out + f"/{table}.parquet")
    return out


def test_spearman_extremes(spark, tmp_path):
    """Identical per-user rankings → ρ = +1 (rho_e6 = 1_000_000);
    exactly reversed rankings → ρ = −1. Built from synthetic events
    where clicks and purchases are perfectly aligned / anti-aligned."""
    from etl_generator_demo_spark.operators.analytics_ext import x4_spearman_rank_corr

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # user u gets u clicks; aligned: u purchases; no ties anywhere
    for u in range(1, 9):
        for _ in range(u):
            rows.append((eid, base, u, "click", 1.0, "{}")); eid += 1
        for _ in range(u):
            rows.append((eid, base, u, "purchase", 1.0, "{}")); eid += 1
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    d = _write(spark.createDataFrame(rows, schema), tmp_path, "events")
    r = x4_spearman_rank_corr(spark, d).collect()[0]
    assert r["n_users"] == 8 and r["sum_d2"] == 0 and r["rho_e6"] == 1_000_000

    rows = []
    eid = 0
    for u in range(1, 9):
        for _ in range(u):
            rows.append((eid, base, u, "click", 1.0, "{}")); eid += 1
        for _ in range(9 - u):  # reversed
            rows.append((eid, base, u, "purchase", 1.0, "{}")); eid += 1
    d = _write(spark.createDataFrame(rows, schema), tmp_path, "events", sub="events_rev")
    r = x4_spearman_rank_corr(spark, d).collect()[0]
    # exact reversal: sum d^2 = n(n^2-1)/3 -> rho = -1, floored e6
    assert r["sum_d2"] == 8 * 63 // 3 and r["rho_e6"] == -1_000_000


def test_burstiness_clockwork_is_minus_one(spark, tmp_path):
    """A metronome user (identical gaps) has σ=0 → B=(0−μ)/(0+μ)=−1."""
    from etl_generator_demo_spark.operators.analytics_ext import x4_burstiness_per_user

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=10 * i), 1, "view", 0.0, "{}")
        for i in range(20)
    ]
    # a second, bursty user: 18 tiny gaps then one huge gap -> B near +1
    t = base
    for i in range(19):
        t = t + datetime.timedelta(seconds=1)
        rows.append((100 + i, t, 2, "view", 0.0, "{}"))
    rows.append((200, t + datetime.timedelta(days=20), 2, "view", 0.0, "{}"))
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    d = _write(spark.createDataFrame(rows, schema), tmp_path, "events")
    got = {r["user_id"]: r for r in x4_burstiness_per_user(spark, d).collect()}
    assert got[1]["b_e6"] == -1_000_000
    assert got[1]["n_gaps"] == 19 and got[1]["sum_gap_s"] == 19 * 600
    # bursty user approaches the single-dominant-gap LIMIT: with n
    # gaps of which one dominates, B → (sqrt(n-1)-1)/(sqrt(n-1)+1)
    # (≈0.6185 at n=19 — NOT 1.0; B=+1 needs heavy-tailed gaps at
    # large n). The tiny 1s gaps shift it below the limit by < 1e-3.
    import math

    limit = (math.sqrt(18) - 1) / (math.sqrt(18) + 1)
    assert abs(got[2]["b_e6"] - int(limit * 1_000_000)) < 1_000
    first = x4_burstiness_per_user(spark, d).first()
    assert first["user_id"] == 2


def test_gini_equal_lengths_is_zero(spark, tmp_path):
    """All documents the same length → Gini = 0 per language; one
    language holding everything in one doc → Gini → (n−1)/n."""
    from etl_generator_demo_spark.operators.analytics_ext import x4_gini_doclen_by_lang

    rows = [(i, "x", "eq", "s", 100) for i in range(10)]
    # extreme inequality: 9 docs of ~0 length, one of 9991 chars.
    # G = 2*S1/(n*S0) - (n+1)/n with ranks; lower bound ~ 0.9*(9991-10)/10000
    rows += [(100 + i, "x", "skew", "s", 1) for i in range(9)]
    rows.append((200, "x", "skew", "s", 9991))
    d = _write(
        spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long"),
        tmp_path,
        "documents",
    )
    got = {r["lang"]: r for r in x4_gini_doclen_by_lang(spark, d).collect()}
    assert got["eq"]["gini_e6"] == 0
    assert got["skew"]["n_docs"] == 10 and got["skew"]["total_chars"] == 10_000
    assert got["skew"]["gini_e6"] > 850_000


def test_mode_tie_breaks_to_smallest_value(spark, tmp_path):
    """Two priorities tied for most frequent → MIN(value) wins, and
    mode_count reports the tied count."""
    from etl_generator_demo_spark.operators.aggregates_ext import a_mode_orderpriority

    rows = (
        [(i, 1, "O", 1.0, datetime.datetime(2024, 1, 1), "2-HIGH") for i in range(3)]
        + [(10 + i, 1, "O", 1.0, datetime.datetime(2024, 1, 1), "1-URGENT") for i in range(3)]
        + [(20, 1, "O", 1.0, datetime.datetime(2024, 1, 1), "5-LOW")]
        + [(30 + i, 1, "F", 1.0, datetime.datetime(2024, 1, 1), "5-LOW") for i in range(2)]
    )
    d = _write(
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        ),
        tmp_path,
        "orders",
    )
    got = {r["status"]: (r["mode_priority"], r["mode_count"]) for r in a_mode_orderpriority(spark, d).collect()}
    assert got == {"O": ("1-URGENT", 3), "F": ("5-LOW", 2)}


def test_coverage_curve_monotone_and_saturating(spark, sf_dir):
    """Coverage at larger k dominates smaller k, and every point is a
    valid e6 fraction; cum_tokens is consistent with coverage."""
    from etl_generator_demo_spark.operators.textops import x4_ngram_coverage_topk

    rows = x4_ngram_coverage_topk(spark, sf_dir).collect()
    assert [r["k"] for r in rows] == [5, 10, 25]
    cov = [r["covered_e6"] for r in rows]
    assert cov == sorted(cov) and all(0 < c <= 1_000_000 for c in cov)
    cums = [r["cum_tokens"] for r in rows]
    assert cums == sorted(cums)


def test_simpson_and_entropy_extremes(spark, tmp_path):
    """Single-token corpus → Simpson diversity 0 AND entropy 0;
    all-distinct corpus → Simpson 1e6 (every pair differs) and
    entropy = ln(N) exactly."""
    import math

    from etl_generator_demo_spark.operators.textops import (
        x4_shannon_entropy_lang,
        x4_token_simpson_diversity,
    )

    rows = [(1, "a a a a a a a a", "mono", "mono", 15)]
    rows.append((2, "t0 t1 t2 t3 t4 t5 t6 t7", "multi", "multi", 23))
    d = _write(
        spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long"),
        tmp_path,
        "documents",
    )
    simp = {r["source"]: r for r in x4_token_simpson_diversity(spark, d).collect()}
    assert simp["mono"]["simpson_e6"] == 0 and simp["mono"]["vocab"] == 1
    assert simp["multi"]["simpson_e6"] == 1_000_000 and simp["multi"]["vocab"] == 8
    ent = {r["lang"]: r for r in x4_shannon_entropy_lang(spark, d).collect()}
    assert ent["mono"]["entropy_nats_e6"] == 0
    want = int(math.floor(math.log(8) * 1_000_000))
    assert abs(ent["multi"]["entropy_nats_e6"] - want) <= 1


def test_herfindahl_extremes(spark, tmp_path):
    """Single source → HHI = 1e6, effective sources = 1; k equal
    sources → HHI = 1e6/k, effective sources = k."""
    from etl_generator_demo_spark.operators.analytics_ext import (
        x4_herfindahl_source_concentration,
    )

    rows = [(i, "x", "one", "s0", 1) for i in range(6)]
    rows += [(100 + i, "x", "four", f"s{i % 4}", 1) for i in range(8)]
    d = _write(
        spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long"),
        tmp_path,
        "documents",
    )
    got = {r["lang"]: r for r in x4_herfindahl_source_concentration(spark, d).collect()}
    assert got["one"]["hhi_e6"] == 1_000_000 and got["one"]["eff_sources_e6"] == 1_000_000
    assert got["four"]["hhi_e6"] == 250_000 and got["four"]["eff_sources_e6"] == 4_000_000


def test_asof_tolerance_boundary_inclusive(spark, tmp_path):
    """A click exactly 1 hour before the purchase is still attributed
    (boundary inclusive); 1h + 1µs is rejected to NULL."""
    from etl_generator_demo_spark.operators.asof import j8_asof_tolerance_click

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: click exactly -1h
        (1, base - datetime.timedelta(hours=1), 1, "click", 0.0, "{}"),
        (2, base, 1, "purchase", 5.0, "{}"),
        # user 2: click 1h + 1µs before -> stale
        (3, base - datetime.timedelta(hours=1, microseconds=1), 2, "click", 0.0, "{}"),
        (4, base, 2, "purchase", 5.0, "{}"),
        # user 3: no click at all
        (5, base, 3, "purchase", 5.0, "{}"),
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    d = _write(spark.createDataFrame(rows, schema), tmp_path, "events")
    got = {r["event_id"]: r for r in j8_asof_tolerance_click(spark, d).collect()}
    assert got[2]["attributed"] == 1 and got[2]["asof_click_ts"] is not None
    assert got[4]["attributed"] == 0 and got[4]["asof_click_ts"] is None
    assert got[5]["attributed"] == 0 and got[5]["asof_click_ts"] is None
