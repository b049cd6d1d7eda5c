"""Skew-mitigation utilities — the 100 TB join toolbox (SURVEY §7.4,
BASELINE.json "designed to scale").

Two tools, complementary to AQE's runtime skew-join splitting:

- `salted_join`: explicit salting for joins whose hot keys are known
  or whose skew defeats AQE (e.g. one key holding 30% of a 100 TB
  fact table). The skewed side gets a random salt in [0, factor); the
  small side is replicated `factor` times with matching salts — the
  hot key's rows spread over `factor` reducers instead of one.
- `bucketed_table`: co-located joins via bucketBy — both sides
  pre-hashed into the same bucket layout, so repeated joins on the
  key run with ZERO shuffle (SortMergeJoin over bucketed scans).
  The write cost is paid once; every downstream join rides free.

Both are pure DataFrame/built-in constructs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    factor: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side salted and the small side replicated.

    Correctness: join key becomes (key, salt); every big-side row gets
    exactly one salt and the small side carries all `factor` salts, so
    each original match survives exactly once. That argument only
    holds for inner/left: under right/full outer an UNMATCHED
    small-side row would surface once per salt replica, so those modes
    are rejected rather than silently corrupted.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(f"salted_join supports inner/left only, got {how!r}")
    big_salted = big.withColumn("_salt", (F.rand(seed=42) * factor).cast("int"))
    small_exploded = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(factor)]))
    )
    out = big_salted.join(small_exploded, [key, "_salt"], how)
    return out.drop("_salt")


def bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    key: str,
    buckets: int = 16,
) -> DataFrame:
    """Persist df as a bucketed managed table and return its scan.
    Joining two tables bucketed on the same key with the same bucket
    count eliminates the shuffle entirely.

    Hygiene: a fresh (in-memory) metastore + a leftover warehouse
    directory from an interrupted prior run makes ``saveAsTable`` fail
    with LOCATION_ALREADY_EXISTS — ``mode("overwrite")`` can't save it
    because the catalog has no such table to overwrite. Drop both the
    table AND any stale location first, so a dirty workspace can never
    poison the write."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    loc = spark._jvm.org.apache.hadoop.fs.Path(f"{warehouse}/{name.lower()}")
    fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(loc):
        fs.delete(loc, True)
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(name)
    )
    return spark.table(name)


# ---------------------------------------------------------------------------
# Skew diagnostics: the audit you run BEFORE choosing a join strategy
# ---------------------------------------------------------------------------
from etl_generator_demo_spark.operators.relational import t  # noqa: E402
from etl_generator_demo_spark.registry import register  # noqa: E402


@register(
    "x4_key_skew_audit",
    oracle="""
    WITH c AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY user_id
    ),
    r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c, user_id) AS i FROM c),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT)  AS n,
               CAST(SUM(c) AS BIGINT)    AS tot,
               CAST(SUM(i * c) AS BIGINT) AS s1,
               CAST(MAX(c) AS BIGINT)    AS mx
        FROM r
    )
    SELECT n   AS n_keys,
           tot AS n_rows,
           CAST(FLOOR(mx * 1000000.0 / tot) AS BIGINT) AS top_share_e6,
           CAST(FLOOR((2.0 * s1 / (n * tot) - (n + 1.0) / n) * 1000000) AS BIGINT) AS gini_e6
    FROM s
    """,
    survey_ids=("X4", "A2"),
)
def x4_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit over events.user_id: key cardinality, the
    hottest key's row share, and the Gini coefficient of the key
    distribution — the numbers that decide between a plain shuffle
    join, AQE skew splitting, and explicit salting (`salted_join`).

    Gini uses the rank formula G = 2·Σ(i·cᵢ)/(n·Σc) − (n+1)/n over
    counts ranked ascending (ties broken by key — Σi·cᵢ is invariant
    under permutations of equal counts, so the tiebreak never changes
    the value). Every sum is an exact BIGINT; the two divisions are
    the only float ops and have identical shape in both engines.

    Scale: the rank runs over the KEY relation (|keys| ≪ |rows|,
    already map-combined) and uses the distributed exact
    ``global_row_number`` — no single-partition window even at
    billion-key grain (a sampled estimate remains cheaper still when
    exactness isn't required)."""
    from etl_generator_demo_spark.operators.analytics_ext import global_row_number

    ev = t(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("c"))
    ranked, _n = global_row_number(
        c, [F.col("c").asc(), F.col("user_id").asc()], rn_col="i"
    )
    r = ranked.select("c", "i")
    s = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("tot"),
        F.sum(F.col("i") * F.col("c")).cast("long").alias("s1"),
        F.max("c").cast("long").alias("mx"),
    )
    return s.select(
        F.col("n").alias("n_keys"),
        F.col("tot").alias("n_rows"),
        F.floor(F.col("mx") * 1000000.0 / F.col("tot")).cast("long").alias("top_share_e6"),
        F.floor(
            (
                2.0 * F.col("s1") / (F.col("n") * F.col("tot"))
                - (F.col("n") + 1.0) / F.col("n")
            )
            * 1000000
        )
        .cast("long")
        .alias("gini_e6"),
    )


BLOOM_HASHES = 3  # k
BLOOM_HEX_CHARS = 3  # 12-bit positions -> m = 4096 buckets


def bloom_bit_positions(keys: DataFrame, key_col: str) -> DataFrame:
    """Distinct (hash_id, pos) bit positions for a key set — the Bloom
    filter as a RELATION. Positions are the first 3 hex chars of
    md5('b{i}|' || key): engine-portable (no hex->int), 4096 buckets
    per hash. The relation is k·|keys| rows of 2 tiny columns — the
    broadcastable form of the filter."""
    pos_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("hash_id"),
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"b{i}|"), F.col(key_col).cast("string")
                        )
                    ),
                    1,
                    BLOOM_HEX_CHARS,
                ).alias("pos"),
            )
            for i in range(BLOOM_HASHES)
        ]
    )
    return (
        keys.select(F.explode(pos_structs).alias("p"))
        .select("p.hash_id", "p.pos")
        .distinct()
    )


def bloom_prune(
    fact_keys: DataFrame, key_col: str, bits: DataFrame
) -> DataFrame:
    """Keys of `fact_keys` that pass the Bloom membership test: all k
    probe positions present in `bits`. The bit relation is broadcast;
    the probe is a map-side explode + broadcast join + count==k gate —
    no shuffle of the fact side beyond its own distinct."""
    probes = fact_keys.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("hash_id"),
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.lit(f"b{i}|"), F.col(key_col).cast("string")
                                )
                            ),
                            1,
                            BLOOM_HEX_CHARS,
                        ).alias("pos"),
                    )
                    for i in range(BLOOM_HASHES)
                ]
            )
        ).alias("p"),
    ).select(key_col, "p.hash_id", "p.pos")
    return (
        probes.join(F.broadcast(bits), ["hash_id", "pos"])
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("k_hit"))
        .filter(F.col("k_hit") == BLOOM_HASHES)
        .select(key_col)
    )


def _duck_bloom_pos(expr: str, i: int) -> str:
    return f"SUBSTR(MD5('b{i}|' || CAST({expr} AS VARCHAR)), 1, {BLOOM_HEX_CHARS})"


@register(
    "j_bloom_prejoin_prune",
    oracle=f"""
    WITH dim AS (
        SELECT DISTINCT c_custkey FROM customer
        WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 0
    ),
    bits AS (
        SELECT DISTINCT hash_id, pos FROM (
            {" UNION ALL ".join(f"SELECT {i} AS hash_id, {_duck_bloom_pos('c_custkey', i)} AS pos FROM dim" for i in range(BLOOM_HASHES))}
        )
    ),
    fact_keys AS (SELECT DISTINCT o_custkey FROM orders),
    probes AS (
        {" UNION ALL ".join(f"SELECT o_custkey, {i} AS hash_id, {_duck_bloom_pos('o_custkey', i)} AS pos FROM fact_keys" for i in range(BLOOM_HASHES))}
    ),
    pass_keys AS (
        SELECT o_custkey FROM probes JOIN bits USING (hash_id, pos)
        GROUP BY o_custkey HAVING COUNT(*) = {BLOOM_HASHES}
    ),
    match_keys AS (
        SELECT o_custkey FROM fact_keys
        WHERE o_custkey IN (SELECT c_custkey FROM dim)
    )
    SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM dim)        AS n_dim_keys,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM fact_keys)  AS n_fact_keys,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM pass_keys)  AS n_pass_keys,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM match_keys) AS n_match_keys,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM pass_keys
          WHERE o_custkey NOT IN (SELECT o_custkey FROM match_keys)) AS n_false_pos,
        (SELECT COUNT(*) FROM match_keys
          WHERE o_custkey NOT IN (SELECT o_custkey FROM pass_keys)) = 0 AS zero_false_neg,
        CAST((SELECT COUNT(*) FROM pass_keys
               WHERE o_custkey NOT IN (SELECT o_custkey FROM match_keys)) * 1000000
             // GREATEST((SELECT COUNT(*) FROM fact_keys
                  WHERE o_custkey NOT IN (SELECT c_custkey FROM dim)), 1)
             AS BIGINT) AS fp_ppm,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM orders)     AS n_fact_rows,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
          WHERE o_custkey IN (SELECT o_custkey FROM pass_keys)) AS n_rows_after_prune
    """,
    survey_ids=("J5", "J6", "P6"),
)
def j_bloom_prejoin_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction, measured: build a 4096-bucket
    k=3 filter over a small dim key set (BUILDING customers in credit),
    probe every fact key scan-side, and report the pruning ledger —
    pass/match/false-positive counts, the zero-false-negatives
    invariant (both engines recompute it against the exact semi join),
    and the false-positive rate in ppm.

    This is the join-pruning idiom for 100 TB facts: the filter is
    k·|dim| (hash_id, 3-hex-pos) pairs — kilobytes broadcast to every
    scan task — and rows that cannot join never enter the shuffle.
    Spark's AQE injects runtime bloom filters for some plans; this
    operator is the explicit, engine-checked form with a measured FP
    ledger."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    dim = (
        cust.filter((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 0))
        .select("c_custkey")
        .distinct()
    )
    bits = bloom_bit_positions(dim, "c_custkey")
    fact_keys = orders.select("o_custkey").distinct()
    pass_keys = bloom_prune(fact_keys, "o_custkey", bits)
    match_keys = fact_keys.join(
        dim.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey", "left_semi"
    )
    false_pos = pass_keys.join(match_keys, "o_custkey", "left_anti")
    missed = match_keys.join(pass_keys, "o_custkey", "left_anti")
    non_match = fact_keys.join(
        dim.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey", "left_anti"
    )
    rows_pruned = orders.join(pass_keys, "o_custkey", "left_semi")

    n_fp = false_pos.count()
    n_nonmatch = non_match.count()
    counts = [
        dim.count(),
        fact_keys.count(),
        pass_keys.count(),
        match_keys.count(),
        n_fp,
        missed.count() == 0,
        # max(1, ·): if every fact key matches the dim set there are
        # no non-matching keys to false-positive on — fp_ppm is 0, not
        # a ZeroDivisionError (n_fp is 0 whenever n_nonmatch is)
        (n_fp * 1_000_000) // max(n_nonmatch, 1),
        orders.count(),
        rows_pruned.count(),
    ]
    row = [
        (
            int(counts[0]), int(counts[1]), int(counts[2]), int(counts[3]),
            int(counts[4]), bool(counts[5]), int(counts[6]), int(counts[7]),
            int(counts[8]),
        )
    ]
    return spark.createDataFrame(
        row,
        "n_dim_keys long, n_fact_keys long, n_pass_keys long, n_match_keys long, "
        "n_false_pos long, zero_false_neg boolean, fp_ppm long, "
        "n_fact_rows long, n_rows_after_prune long",
    )


# ---------------------------------------------------------------------------
# interval-join bin-width sweep (the temporal-join bucketing knob)
# ---------------------------------------------------------------------------

#: Pair window: ordered same-user event pairs with 0 < gap <= 1 hour.
PAIR_DELTA_US = 3_600 * 1_000_000
#: Swept bucket widths, minutes. 60 = the window itself; 15 trades 4x
#: left-side replication for tight candidates; 1440 buckets by day.
BIN_W_SWEEP_MIN = (15, 60, 240, 1440)


def _bin_sweep_oracle() -> str:
    widths = ", ".join(str(m) for m in BIN_W_SWEEP_MIN)
    return f"""
    WITH w AS (SELECT UNNEST([{widths}]::BIGINT[]) AS bin_w_min),
    e AS (
        SELECT event_id, user_id,
               EPOCH_US(CAST(ts AS TIMESTAMP)) AS ts_us
        FROM events
    ),
    a AS (
        SELECT w.bin_w_min, e.event_id AS ea, e.user_id, e.ts_us AS ts_a,
               UNNEST(GENERATE_SERIES(
                   e.ts_us // (w.bin_w_min * 60000000),
                   (e.ts_us + {PAIR_DELTA_US}) // (w.bin_w_min * 60000000)
               )) AS b
        FROM e CROSS JOIN w
    ),
    fan AS (
        SELECT bin_w_min, CAST(COUNT(*) AS BIGINT) AS n_fanout_rows
        FROM a GROUP BY bin_w_min
    ),
    cand AS (
        SELECT a.bin_w_min, a.ea, e2.event_id AS eb, a.ts_a,
               e2.ts_us AS ts_b
        FROM a JOIN e e2
          ON e2.user_id = a.user_id
         AND e2.ts_us // (a.bin_w_min * 60000000) = a.b
         AND e2.event_id <> a.ea
    ),
    agg AS (
        SELECT bin_w_min,
               CAST(COUNT(DISTINCT (ea, eb)) AS BIGINT) AS n_candidates,
               CAST(COUNT(DISTINCT CASE
                   WHEN ts_b > ts_a AND ts_b - ts_a <= {PAIR_DELTA_US}
                   THEN (ea, eb) END) AS BIGINT) AS n_true_pairs
        FROM cand GROUP BY bin_w_min
    )
    SELECT f.bin_w_min, f.n_fanout_rows, agg.n_candidates, agg.n_true_pairs
    FROM fan f JOIN agg USING (bin_w_min)
    ORDER BY f.bin_w_min
    """


@register(
    "j_range_bin_width_sweep",
    oracle=_bin_sweep_oracle(),
    survey_ids=("J7", "A1", "X4"),
)
def j_range_bin_width_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-width knob curve for the interval-join decomposition
    `j_theta_banded_bucketed` pins: same-user event pairs within one
    hour, rewritten as an EQUI join on (user, time bucket) with the
    left side exploded across the buckets its window covers. Per
    width: `n_fanout_rows` (left-side replication the shuffle pays),
    `n_candidates` (equi-join output the residual filter pays), and
    `n_true_pairs` — CONSTANT across widths because a true pair's
    right bucket always lies inside the left row's covered range
    (floor is monotone), the no-lost-pairs invariant that makes the
    rewrite safe. Small buckets replicate more but filter less; day
    buckets replicate nothing and pay ~9x candidate blowup — the
    curve is the number a temporal-join tuner reads before picking W.

    Plan: ONE event scan serves all four widths (widths explode onto
    it); both join sides key on (width, user, bucket), so density is
    per-user bounded and no stage is all-pairs. At 100 TB this is the
    standard windowed-self-join shape, shuffle-partitioned by user."""
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    from .stats import div

    widths = F.array(*[F.lit(m).cast("long") for m in BIN_W_SWEEP_MIN])
    bin_us = F.col("bin_w_min") * 60_000_000
    a = ev.select(
        F.explode(widths).alias("bin_w_min"),
        F.col("event_id").alias("ea"),
        "user_id",
        F.col("ts_us").alias("ts_a"),
    ).select(
        "bin_w_min",
        "ea",
        "user_id",
        "ts_a",
        F.explode(
            F.sequence(
                div(F.col("ts_a"), bin_us),
                div(F.col("ts_a") + PAIR_DELTA_US, bin_us),
            )
        ).alias("b"),
    )
    fan = a.groupBy("bin_w_min").agg(
        F.count(F.lit(1)).cast("long").alias("n_fanout_rows")
    )
    e2 = ev.select(
        F.col("event_id").alias("eb"),
        F.col("user_id").alias("user_b"),
        F.col("ts_us").alias("ts_b"),
    )
    cand = a.join(
        e2,
        (F.col("user_id") == F.col("user_b"))
        & (div(F.col("ts_b"), bin_us) == F.col("b"))
        & (F.col("eb") != F.col("ea")),
    ).select("bin_w_min", "ea", "eb", "ts_a", "ts_b")
    true_flag = (F.col("ts_b") > F.col("ts_a")) & (
        F.col("ts_b") - F.col("ts_a") <= PAIR_DELTA_US
    )
    agg = (
        cand.select("bin_w_min", "ea", "eb", true_flag.alias("is_true"))
        .groupBy("bin_w_min", "ea", "eb")
        .agg(F.max("is_true").alias("is_true"))
        .groupBy("bin_w_min")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(F.when(F.col("is_true"), 1).otherwise(0))
            .cast("long")
            .alias("n_true_pairs"),
        )
    )
    return (
        fan.join(agg, "bin_w_min")
        .select("bin_w_min", "n_fanout_rows", "n_candidates", "n_true_pairs")
        .orderBy("bin_w_min")
    )


# ---------------------------------------------------------------------------
# salt-factor sweep (pricing the hot-key remedy)
# ---------------------------------------------------------------------------

#: Hex digit alphabet: the oracles decode md5 hex digits as
#: ``instr(_HEX, digit) - 1``.
_HEX = "0123456789abcdef"
#: Swept salt factors (1 = unsalted baseline).
SALT_FACTOR_SWEEP = (1, 4, 16, 64)
#: Deterministic hot key: 3 of 4 event rows collapse onto user 0 —
#: the planted-skew convention (the raw fixture's keys are uniform,
#: max share 0.9%, which motivates nothing).
_HOT_KEY_CASE = "CASE WHEN user_id % 4 = 0 THEN user_id ELSE 0 END"


def _salt_sweep_oracle() -> str:
    factors = ", ".join(str(s) for s in SALT_FACTOR_SWEEP)
    return f"""
    WITH ev AS (
        SELECT event_id, {_HOT_KEY_CASE} AS k FROM events
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM ev),
    nk AS (SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS n_keys FROM ev),
    s AS (SELECT UNNEST([{factors}]::BIGINT[]) AS salt_factor),
    salted AS (
        SELECT s.salt_factor, ev.k,
               (instr('{_HEX}', SUBSTR(MD5('salt|' || CAST(ev.event_id AS VARCHAR)), 1, 1)) - 1) * 16
               + instr('{_HEX}', SUBSTR(MD5('salt|' || CAST(ev.event_id AS VARCHAR)), 2, 1)) - 1
                   AS h
        FROM ev CROSS JOIN s
    ),
    per_key AS (
        SELECT salt_factor, k, h % salt_factor AS salt,
               CAST(COUNT(*) AS BIGINT) AS rows_in_key
        FROM salted GROUP BY salt_factor, k, h % salt_factor
    )
    SELECT p.salt_factor,
           CAST(COUNT(*) AS BIGINT) AS n_shuffle_keys,
           CAST(MAX(p.rows_in_key) AS BIGINT) AS max_key_rows,
           CAST(MAX(p.rows_in_key) * 1000000 // MAX(n.total) AS BIGINT)
               AS max_share_ppm,
           CAST(MAX(nk.n_keys) * p.salt_factor AS BIGINT)
               AS replication_rows
    FROM per_key p CROSS JOIN n CROSS JOIN nk
    GROUP BY p.salt_factor
    ORDER BY p.salt_factor
    """


@register(
    "j_salt_factor_sweep",
    oracle=_salt_sweep_oracle(),
    survey_ids=("J6", "A1", "X4"),
)
def j_salt_factor_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salt-factor knob curve for the hot-key join remedy: per factor
    s (1/4/16/64), the shuffle-key relation's straggler bound
    (max rows landing on one (key, salt) shuffle key — the biggest
    task a skewed join must finish) against the price (small side
    replicated s times: `replication_rows` = |dim keys| x s). The
    skew audit `x4_key_skew_audit` DIAGNOSES the hot key; this curve
    prices :func:`salted_join`'s factor argument. Skew is
    planted deterministically (3/4 of rows collapse onto key 0; the
    raw fixture is uniform); the salt is md5-derived from the row id
    — the reproducible-everywhere hash family every LSH operator here
    uses, NOT `rand()`, so both engines bucket identically.

    Plan: ONE event scan x 4 broadcast factors -> one (factor, key,
    salt) map-combined rollup -> one factor rollup. Linear; the sweep
    relation is |factors| x |keys|-bounded."""
    ev = t(spark, sf_dir, "events").select(
        "event_id", F.expr(_HOT_KEY_CASE).alias("k")
    )
    total = ev.groupBy().agg(F.count(F.lit(1)).cast("long").alias("total"))
    nkeys = ev.groupBy().agg(
        F.count_distinct("k").cast("long").alias("n_keys")
    )
    factors = F.array(*[F.lit(s).cast("long") for s in SALT_FACTOR_SWEEP])
    # the first two md5 hex digits as an integer in [0, 256)
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("salt|"), F.col("event_id").cast("string"))), 1, 2),
        16,
        10,
    ).cast("long")
    salted = ev.select(
        "k", h.alias("h"), F.explode(factors).alias("salt_factor")
    )
    per_key = salted.groupBy(
        "salt_factor", "k", (F.col("h") % F.col("salt_factor")).alias("salt")
    ).agg(F.count(F.lit(1)).cast("long").alias("rows_in_key"))
    return (
        per_key.groupBy("salt_factor")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shuffle_keys"),
            F.max("rows_in_key").cast("long").alias("max_key_rows"),
        )
        .crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(nkeys))
        .select(
            "salt_factor",
            "n_shuffle_keys",
            "max_key_rows",
            F.expr("CAST(max_key_rows * 1000000 div total AS LONG)").alias(
                "max_share_ppm"
            ),
            (F.col("n_keys") * F.col("salt_factor"))
            .cast("long")
            .alias("replication_rows"),
        )
        .orderBy("salt_factor")
    )
