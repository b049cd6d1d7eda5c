"""Oracle reseed-sensitivity lint — round-close gate (round 15;
VERDICT r14 item 4: mechanize the rule the r14 reseed flips were
triaged under, wired next to plan_audit).

The lint's claim: no registered oracle floors/rounds an
ORDER-DEPENDENT float aggregate without an allowlist entry arguing
the boundary cannot be grid-aligned. The r14 failure class
(g_pagerank_tree's e6 ranks, g_triangle_count's float //) would have
been flagged before the reseed caught it.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, os.path.join(ROOT, "tools"))

import oracle_lint as OL


def _sites(sql: str, base=frozenset()):
    return OL.scan_oracle(sql, set(base))


def test_registry_has_no_unexplained_flags():
    """The gate itself: 0 unexplained flags over every registered
    oracle (same invocation the round-close runs)."""
    assert OL.main([]) == 0


def test_allowlist_entries_all_match_live_sites():
    """Every allowlist entry still corresponds to a live flagged site
    with a matching snippet (a rewritten oracle must invalidate its
    stale approval — checked both ways)."""
    from etl_generator_demo_spark.registry import load_all

    reg = load_all()
    base = OL._fixture_int_columns()
    live = {}
    for name, rq in reg.items():
        if rq.oracle is None:
            continue
        for i, site in enumerate(OL.scan_oracle(rq.oracle, base)):
            live[(name, i)] = site
    for key, (prefix, cls) in OL.ALLOWLIST.items():
        assert key in live, f"stale allowlist entry {key} (site gone)"
        assert live[key]["snippet"].startswith(prefix), (
            f"allowlist entry {key} no longer matches its oracle"
        )
        assert cls in ("price-sum", "ratio", "logprob", "moment")


def test_detects_the_r14_grid_aligned_class():
    """The exact shapes that flipped in r14 must flag: a float
    aggregate feeding FLOOR (PageRank e6 ranks) and feeding `//`
    (gcc_ppm's float floor-division)."""
    flagged = _sites("SELECT FLOOR(SUM(r.score) * 1000000 / n) FROM r")
    assert flagged and flagged[0]["kind"] == "FLOOR"
    flagged = _sites("SELECT SUM(x.ratio) * 1000000 // n FROM x")
    assert flagged and flagged[0]["kind"] == "//"


def test_scaled_bigint_spellings_pass():
    """The standing fix must NOT flag: integer sums (both engines add
    identical integers), floor-to-scaled-int addends, CASE-over-int
    addends, and int-alias chains traced through CTEs."""
    assert not _sites(
        "SELECT FLOOR(SUM(CAST(FLOOR(p * 100) AS BIGINT)) / COUNT(*)) FROM t"
    )
    assert not _sites(
        "SELECT FLOOR(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) * 1000000.0"
        " / COUNT(*)) FROM t"
    )
    # alias fixpoint: lp_e4 is integral where defined, so its SUM is
    assert not _sites(
        "WITH x AS (SELECT CAST(FLOOR(lp * 10000) AS BIGINT) AS lp_e4 FROM t)"
        " SELECT FLOOR(SUM(lp_e4) / COUNT(*)) FROM x"
    )
    # base-table int columns resolve through the parquet footers
    assert not _sites(
        "SELECT FLOOR(SUM(o_orderkey) / COUNT(*)) FROM orders",
        base={"o_orderkey"},
    )
    # left-assoc mul-tier: (float * 1e9) // int is integral per row
    assert not _sites("SELECT SUM(s * 1000000000 // eps) // COUNT(*) FROM t")


def test_order_free_aggregates_not_flagged():
    """MIN/MAX/COUNT and the quantile family are deterministic
    functions of the value multiset — no summation order to wobble."""
    assert not _sites("SELECT FLOOR(MAX(price) * 100), FLOOR(MIN(price)) FROM t")
    assert not _sites("SELECT FLOOR(QUANTILE_CONT(price, 0.5) * 100) FROM t")
    assert not _sites("SELECT ROUND(COUNT(*) / 2, 0) FROM t")


def test_true_float_accumulation_is_flagged():
    """The class the allowlist documents: ROUND over a float price sum
    and FLOOR over AVG of floats must flag (they are only acceptable
    WITH a reasoned entry)."""
    assert _sites("SELECT ROUND(SUM(price), 2) FROM t")
    assert _sites("SELECT FLOOR(AVG(lp) * 10000) FROM t")
    assert _sites("SELECT FLOOR(STDDEV_SAMP(price) * 100) FROM t")


def test_suggestions_steer_to_scaled_bigint(monkeypatch):
    """Every flag carries a concrete integer-exact rewrite (round 16,
    r15 verdict item 7): scaled-BIGINT SUM for SUM/ROUND sites, the
    // COUNT spelling for AVG, and the integer-moment-sums
    decomposition for moment aggregates (which have no single-call
    exact respelling)."""
    import sys

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from oracle_lint import scan_oracle, suggest_rewrite

    (s,) = scan_oracle("SELECT ROUND(SUM(a * (1 - b)), 2) AS r FROM t", set())
    sug = suggest_rewrite(s)
    assert "SUM(CAST(FLOOR((a * (1 - b)) * 100) AS BIGINT))" in sug
    assert "BEFORE the sum" in sug

    (s,) = scan_oracle("SELECT FLOOR(AVG(lp) * 10000) AS alp FROM t", set())
    sug = suggest_rewrite(s)
    assert "SUM(CAST(FLOOR((lp) * 10000) AS BIGINT)) // COUNT(lp)" in sug

    (s,) = scan_oracle("SELECT FLOOR(STDDEV_SAMP(p) * 100) AS sd FROM t", set())
    sug = suggest_rewrite(s)
    assert "moment sums" in sug and "COUNT(*)" in sug
