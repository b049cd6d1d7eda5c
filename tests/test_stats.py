"""The statistics family (``operators/stats.py``) and its neighbours on
the same kernels: closed-form anchors, degenerate inputs against the
DuckDB oracle, and the contracts of the sketches and robust estimators.

The oracle proves Spark ≡ DuckDB; the anchors here prove both equal
the MATH on constructed inputs whose answers are known in closed form
(identical rankings give ρ = +1, an exact line gives its slope, …), so
a shared bug that fooled both engines identically still fails.
"""

from __future__ import annotations

import datetime
from collections import Counter
import math

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_generator_demo_spark.operators import stats
from etl_generator_demo_spark.operators.analytics_ext import x4_spearman_rank_corr
from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.operators.stats import (
    BLOOM_SWEEP_HEX,
    BOOT_B,
    SKETCH_SHARDS,
    a_corr_matrix_lineitem,
    a_hdr_quantile_sketch,
    a_regr_slope_revenue,
    a_sketch_resolution_sweep,
    comoment,
    denom,
    j_bloom_fpr_sweep,
    moments,
    x4_labeler_agreement_kappa,
    x4_ndcg_eval,
    x4_poisson_bootstrap_ci,
    x4_theil_sen_trend,
    x4_zipf_alpha_fit,
)
from etl_generator_demo_spark.registry import load_all

def _write(df, tmp_path, table, sub=None):
    """Write ``df`` as ``<tmp>/<sub or table>/<table>.parquet`` and
    return the sf_dir-shaped parent directory."""
    out = str(tmp_path / (sub or table))
    df.write.mode("overwrite").parquet(out + f"/{table}.parquet")
    return out


def _write_documents(spark, path, rows):
    spark.createDataFrame(
        [(i, text, lang, "srcT", len(text)) for i, (text, lang) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


# ---------------------------------------------------------------------------
# The moments kernel and the zero-denominator rule
# ---------------------------------------------------------------------------


def test_moments_sums_every_column_and_pair(spark):
    df = spark.createDataFrame([(1, 2), (3, 5), (4, -1)], "x long, y long")
    r = moments(df, ["x", "y"], "long").first().asDict()
    assert r == {
        "n": 3, "s_x": 8, "s_y": 6,
        "s_x_x": 1 + 9 + 16, "s_x_y": 2 + 15 - 4, "s_y_y": 4 + 25 + 1,
    }
    dec = moments(df, ["x", "y"], "decimal(38,0)").schema
    assert {f.dataType.simpleString() for f in dec} == {"decimal(38,0)"}


def test_exact_line_gives_exact_slope_and_unit_correlation(spark, tmp_path):
    """y = 3x + 7 dollars per day gives slope 300 cents/day exactly;
    price = 2·quantity gives corr_e6 = 1_000_000 (the variances are
    perfect squares, so the two sqrts are exact)."""
    day0 = datetime.date(1995, 1, 1)
    orders = [
        (x, 1, "O", float(3 * x + 7), day0 + datetime.timedelta(days=x), "1-URGENT")
        for x in range(5)
    ]
    d = _write(
        spark.createDataFrame(
            orders,
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate date, o_orderpriority string",
        ),
        tmp_path,
        "orders",
    )
    r = a_regr_slope_revenue(spark, d).first()
    assert r["n_days"] == 5 and r["slope_cents_per_day_e6"] == 300 * 1_000_000
    assert r["mean_day_index"] == 2 and r["mean_daily_cents"] == 1300

    li = [(i, float(q), 2.0 * q, 0.05) for i, q in enumerate((1, 3, 1, 3))]
    d = _write(
        spark.createDataFrame(
            li, "l_orderkey long, l_quantity double, l_extendedprice double, l_discount double"
        ),
        tmp_path,
        "lineitem",
    )
    got = {r["pair"]: r["corr_e6"] for r in a_corr_matrix_lineitem(spark, d).collect()}
    # the discount is constant: zero variance gives NULL, not an error
    assert got == {"quantity_price": 1_000_000, "quantity_discount": None, "price_discount": None}


def test_constant_x_gives_null_slope(spark, tmp_path):
    """Every order on one day: n·Σx² − (Σx)² = 0, so the slope is NULL
    (the oracle's and PostgreSQL's regr_slope rule), not DIVIDE_BY_ZERO."""
    orders = [(i, 1, "O", 10.0 + i, datetime.date(1995, 3, 1), "1-URGENT") for i in range(4)]
    d = _write(
        spark.createDataFrame(
            orders,
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate date, o_orderpriority string",
        ),
        tmp_path,
        "orders",
    )
    r = a_regr_slope_revenue(spark, d).first()
    assert r["n_days"] == 1 and r["slope_cents_per_day_e6"] is None
    assert r["mean_daily_cents"] == 4600 and r["mean_day_index"] == 59
    df = spark.createDataFrame([(5, 1), (5, 2)], "x long, y long")
    m = moments(df, ["x", "y"], "long")
    assert m.select((comoment("x", "y") / denom(comoment("x", "x"))).alias("b")).first()["b"] is None


# ---------------------------------------------------------------------------
# Degenerate inputs: each source table cut to 0 rows and to 1 row
# ---------------------------------------------------------------------------

#: The family's queries by the table each reads. Every ``stats.py``
#: query is here, plus the three outside it on the same kernels.
_SOURCES = {
    "customer": ("j_bloom_fpr_sweep",),
    "documents": (
        "x4_zipf_slope", "x4_zipf_alpha_fit", "x4_heaps_law_fit",
        "x4_ranker_agreement", "x4_kendall_tau_bins", "x4_cramers_v_lang_source",
        "x4_labeler_agreement_kappa", "x4_entropy_per_source",
        "x4_js_divergence_sources", "x4_ndcg_eval", "x4_ks_source_drift",
    ),
    "events": (
        "x4_entropy_rate_transitions", "x4_markov_attribution", "x4_winsorized_stats",
        "x4_theil_sen_trend", "x4_poisson_bootstrap_ci", "x4_spearman_rank_corr",
    ),
    "lineitem": (
        "a_corr_matrix_lineitem", "a_hdr_quantile_sketch", "a_sketch_resolution_sweep",
        "g_degree_assortativity",
    ),
    "orders": ("a_regr_slope_revenue", "j_bloom_fpr_sweep"),
}

#: First column of each cut table: the one row kept is the smallest key.
_KEY = {"customer": "c_custkey", "documents": "doc_id", "events": "event_id",
        "lineitem": "l_orderkey", "orders": "o_orderkey"}


def test_degenerate_sweep_covers_the_family():
    family = {n for n, rq in load_all().items() if rq.fn.__module__ == stats.__name__}
    assert len(family) == 20
    swept = {n for names in _SOURCES.values() for n in names}
    assert swept == family | {"x4_spearman_rank_corr", "x4_ks_source_drift", "g_degree_assortativity"}


@pytest.mark.parametrize("rows", [0, 1])
@pytest.mark.parametrize("table", sorted(_SOURCES))
def test_degenerate_input_matches_oracle(
    spark, sf_dir, replace_table, oracle_mismatches, table, rows
):
    frame = t(spark, sf_dir, table).orderBy(_KEY[table]).limit(rows)
    bad = oracle_mismatches(replace_table(table, frame), _SOURCES[table])
    assert not bad, bad


def test_spearman_extremes(spark, tmp_path):
    """Identical per-user rankings → ρ = +1 (rho_e6 = 1_000_000);
    exactly reversed rankings → ρ = −1. Built from synthetic events
    where clicks and purchases are perfectly aligned / anti-aligned."""
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


def _write_events(spark, path, days):
    """One purchase per given day -> |days| daily revenue points."""
    rows = [
        (
            i,
            datetime.datetime(2024, 1, 1 + d, 12, 0, 0),
            i,
            "purchase",
            100.0 + i,
            "{}",
        )
        for i, d in enumerate(days)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


def test_theil_sen_empty_case_contract(spark, tmp_path):
    """<2 distinct days -> no pairwise slopes -> 0 rows from BOTH the
    Spark operator and the DuckDB oracle (the documented contract)."""
    _write_events(spark, str(tmp_path), [0])  # one day: no slope pairs
    out = x4_theil_sen_trend(spark, str(tmp_path)).collect()
    assert out == []

    sql = load_all()["x4_theil_sen_trend"].oracle
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS "
        f"SELECT * FROM read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    assert con.execute(sql).fetchall() == []


def test_theil_sen_two_days_single_slope(spark, tmp_path):
    """Two days -> exactly one pair; the median IS that slope, and the
    single-row shape carries (n_days=2, n_pairs=1, slope)."""
    _write_events(spark, str(tmp_path), [0, 3])  # revs 100 and 101, gap 3
    out = x4_theil_sen_trend(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_days"] == 2 and r["n_pairs"] == 1
    # slope = (101-100)*1e6 floor-div 3 days
    assert r["theil_sen_slope_e6"] == (1 * 1_000_000) // 3


def test_markov_attribution_nonpositive_total_is_null():
    """The pmod floor idiom in the Markov oracle assumes a positive
    effect total; the Spark side NULLs attribution when total <= 0
    (r9 advice). Pin the guard at the unit level."""
    # mirrors the in-operator expression
    def attribution(effect, total):
        return (effect * 1_000_000) // total if total > 0 else None

    assert attribution(5, 10) == 500_000
    assert attribution(5, 0) is None
    assert attribution(5, -3) is None


class TestBootstrap:
    def test_weight_law_and_determinism(self, spark, sf_dir):
        """The two-md5-bit weight law must be {0:1/4, 1:1/2, 2:1/4}
        (mean EXACTLY 1 in expectation) and fully deterministic —
        the whole point vs a per-row RNG."""
        import hashlib

        ev = t(spark, sf_dir, "events").filter(
            F.col("event_type") == "purchase"
        )
        ids = [r.event_id for r in ev.select("event_id").collect()]
        counts: Counter = Counter()
        for b in range(4):  # a few replicates suffice for the law
            for eid in ids:
                h = hashlib.md5(f"{b}_{eid}".encode()).hexdigest()[:8]
                m = int(h, 16) % 4
                counts[0 if m == 0 else 2 if m == 3 else 1] += 1
        total = sum(counts.values())
        assert abs(counts[1] / total - 0.5) < 0.05
        assert abs(counts[0] / total - 0.25) < 0.05
        assert abs(counts[2] / total - 0.25) < 0.05
        # determinism: two runs, identical record
        a = x4_poisson_bootstrap_ci(spark, sf_dir).first()
        b2 = x4_poisson_bootstrap_ci(spark, sf_dir).first()
        assert a == b2

    def test_ci_brackets_point_estimate(self, spark, sf_dir):
        r = x4_poisson_bootstrap_ci(spark, sf_dir).first()
        assert r.n_replicates == BOOT_B
        assert r.boot_min_c2 <= r.ci_lo_c2 <= r.ci_hi_c2 <= r.boot_max_c2
        # mean-1 weights: the point estimate sits inside the bootstrap
        # range on any non-degenerate sample
        assert r.boot_min_c2 <= r.point_c2 <= r.boot_max_c2


def test_quantile_sketch_bounds_and_merge_exactness(spark, sf_dir):
    """The sketch quantile upper bound must sit within 5% above (and
    never below) the exact quantile, and the per-shard merge must be
    bit-identical to a direct single-pass histogram (associativity —
    the property that makes the sketch mergeable at all)."""
    out = a_hdr_quantile_sketch(spark, sf_dir).collect()
    assert {r["q"] for r in out} == {50, 90, 99}
    li = (
        t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_returnflag").alias("flag"),
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("long")
            .alias("cents"),
        )
        .collect()
    )
    by_flag: dict[str, list[int]] = {}
    for r in li:
        by_flag.setdefault(r["flag"], []).append(r["cents"])
    for r in out:
        vals = sorted(by_flag[r["flag"]])
        assert r["n_values"] == len(vals)
        import math

        exact = vals[math.ceil(r["q"] / 100 * len(vals)) - 1]
        ub = r["quantile_ub_cents"]
        assert ub >= exact, (r["flag"], r["q"], ub, exact)
        # 2-significant-digit buckets: ub < exact_bucket_lb * 1.1 and
        # the documented quantile error bound is <=5% of the value
        assert ub <= exact * 1.1 + 9, (r["flag"], r["q"], ub, exact)


def test_quantile_sketch_shard_merge_equals_direct(spark):
    """Explicit mergeability proof on a controlled relation: sharded
    bucket counts summed == direct bucket counts (associative), for a
    value set that crosses decade boundaries."""
    vals = list(range(1, 300)) + [10**k for k in range(1, 7)]
    df = spark.createDataFrame(
        [(i % SKETCH_SHARDS, v) for i, v in enumerate(vals)],
        "shard long, cents long",
    )
    bucket = (
        "CAST(LENGTH(CAST(cents AS STRING)) AS BIGINT) * 100 + "
        "CAST(SUBSTR(CAST(cents AS STRING), 1, 2) AS BIGINT)"
    )
    direct = {
        (r["bucket"], r["cnt"])
        for r in df.groupBy(F.expr(bucket).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    merged = {
        (r["bucket"], r["cnt"])
        for r in df.groupBy("shard", F.expr(bucket).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("bucket")
        .agg(F.sum("c").alias("cnt"))
        .collect()
    }
    assert direct == merged


def test_sketch_resolution_sweep_error_shrinks(spark, sf_dir):
    """The tuning curve's contract: UB >= exact everywhere, error
    non-increasing as resolution grows (within each quantile), bucket
    count growing with resolution, and the documented per-resolution
    error bound rel_err <= 10^(1-r) (one leading digit ~ <=90%, two
    ~ <=10%... the decimal-HDR geometry)."""
    rows = a_sketch_resolution_sweep(spark, sf_dir).collect()
    assert len(rows) == 9
    by_q: dict[int, list] = {}
    nb_by_r: dict[int, int] = {}
    for r in rows:
        assert r["sketch_ub_cents"] >= r["exact_cents"]
        assert r["rel_err_e6"] >= 0
        # decimal-HDR bound: one bucket spans < 10^(1-r) of its value
        assert r["rel_err_e6"] <= 10 ** (7 - r["r"]), r
        by_q.setdefault(r["q"], []).append((r["r"], r["rel_err_e6"]))
        nb_by_r[r["r"]] = r["n_buckets"]
    for q, errs in by_q.items():
        errs.sort()
        vals = [e for _, e in errs]
        assert vals == sorted(vals, reverse=True), (q, errs)
    assert nb_by_r[1] <= nb_by_r[2] <= nb_by_r[3]


def test_kappa_closed_form_on_fixture(spark, sf_dir):
    """Kappa recomputed in plain Python from the registered confusion
    matrix must match the operator exactly (same truncating integer
    division), and sit in (-1, 1] with po/pe consistent."""
    from etl_generator_demo_spark.operators.textops import (
        x4_trigram_langid_confusion,
    )

    conf = x4_trigram_langid_confusion(spark, sf_dir).collect()
    n = sum(r["n_docs"] for r in conf)
    agree = sum(r["n_docs"] for r in conf if r["actual"] == r["predicted"])
    rows: dict[str, int] = {}
    cols: dict[str, int] = {}
    for r in conf:
        rows[r["actual"]] = rows.get(r["actual"], 0) + r["n_docs"]
        cols[r["predicted"]] = cols.get(r["predicted"], 0) + r["n_docs"]
    s = sum(rows[k] * cols.get(k, 0) for k in rows)

    def tdiv(a: int, b: int) -> int:  # truncate toward zero, like div
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b > 0) else -q

    got = x4_labeler_agreement_kappa(spark, sf_dir).collect()
    assert len(got) == 1
    g = got[0]
    assert g["n_docs"] == n and g["n_agree"] == agree
    assert g["po_e6"] == tdiv(agree * 1_000_000, n)
    assert g["pe_e6"] == tdiv(s * 1_000_000, n * n)
    assert g["kappa_e6"] == tdiv((n * agree - s) * 1_000_000, n * n - s)
    assert -1_000_000 < g["kappa_e6"] <= 1_000_000
    # chance correction: kappa <= raw accuracy whenever pe > 0
    assert g["kappa_e6"] <= g["po_e6"]


def test_bloom_fpr_sweep_monotone_and_sound(spark, sf_dir):
    """A Bloom filter can only over-admit: zero false negatives at
    every width; false positives shrink (weakly) as m grows; pass set
    always contains the match set; the widest filter's entry count is
    bounded by k*|dim keys|."""
    from etl_generator_demo_spark.operators.skew import BLOOM_HASHES

    rows = {r["hex_chars"]: r for r in j_bloom_fpr_sweep(spark, sf_dir).collect()}
    assert set(rows) == set(BLOOM_SWEEP_HEX)
    prev_fp = None
    for h in sorted(rows):
        r = rows[h]
        assert r["zero_false_neg"] is True
        assert r["m_buckets"] == 16**h
        assert r["n_pass_keys"] >= r["n_pass_keys"] - r["n_false_pos"] >= 0
        if prev_fp is not None:
            assert r["n_false_pos"] <= prev_fp
        prev_fp = r["n_false_pos"]
    widest = rows[max(BLOOM_SWEEP_HEX)]
    assert widest["n_filter_entries"] <= BLOOM_HASHES * (
        widest["n_pass_keys"] - widest["n_false_pos"] + 10**9
    )  # structurally bounded; exact bound pinned by the oracle counts


def test_zipf_perfect_corpus(spark, tmp_path):
    """Frequencies exactly C/r lie on slope -1 in ln-ln space, so
    alpha_e6 must land within floor-error of 1e6."""
    text = " ".join(
        ["t1"] * 120 + ["t2"] * 60 + ["t3"] * 40 + ["t4"] * 30
    )
    _write_documents(spark, str(tmp_path), [(text, "en")])
    row = x4_zipf_alpha_fit(spark, str(tmp_path)).first()
    assert row["n_terms"] == 4
    assert abs(row["alpha_e6"] - 1_000_000) < 50
    # intercept ~ ln(120) e6
    assert abs(row["intercept_e6"] - int(math.log(120) * 1_000_000)) < 50


def test_ndcg_bounded_and_consistent(spark, sf_dir):
    r = x4_ndcg_eval(spark, sf_dir).collect()[0]
    assert 0 < r["ndcg_e6"] <= 1_000_000
    assert r["dcg_e6"] <= r["idcg_e6"]
    assert r["n_ranked"] <= 20
