"""SparkSession construction tuned for this engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the same config block
is what we would ship to a real cluster (AQE on, sensible shuffle
parallelism, UTC session time, Arrow for the few Pandas-UDF paths).
The reference keeps one SQLAlchemy engine per process
(``db_connector.py:25-80``); here the analogue is one SparkSession per
process, and all APIs accept an externally-provided session (the
driver passes its own), so nothing below is load-bearing for
correctness — only for performance when we own session creation.

r16 (optimization guide §2.2/§9): scale-dependent settings are
PARAMETERISED instead of constants —

- ``spark.sql.shuffle.partitions`` derives from the core count
  (1× cores locally, the value the r1-r15 records ran at 32 cores, so
  the driver's bench stays comparable; AQE coalescing owns the rest).
  Override with ``SPARK_GRAFT_SHUFFLE_PARTITIONS``; on a real cluster
  set it to 2-3× total executor cores (or leave AQE's
  ``coalescePartitions.initialPartitionNum`` to own it).
- ``spark.sql.join.preferSortMergeJoin=false`` (guide §3.1) was
  MEASURED and REJECTED — see the inline note below.
- any ``SPARK_GRAFT_SPARKCONF_<key with _ for .>`` env var is passed
  through verbatim, so deployment-specific values never need a code
  edit (the "parameterised, not tuned-to-local[32]" rule).

The generated-code cache (``spark.sql.codegen.cache.maxEntries``, a
static conf: it takes effect only when the session creates the
SparkContext) holds 1000 classes instead of Spark's 100. The cache is
keyed by generated source, and a session's recurring statements need
more than 100 classes: the ``perfbench`` front-door rotation (47
SELECT texts) compiles 138, so at 100 entries every 23-request pass
recompiled 23–33 of them at about 10 ms each, and a ``pipelines``
pass 21–56. At 1000 entries steady-state passes compile 0 classes on
both workloads (4 cores, ``CodegenMetrics`` compile count per pass).
This pays only for statements that repeat: Spark inlines numeric and
date literals into the generated Java, so a statement with fresh
literals still compiles its ~3 classes.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import Column, DataFrame, Observation, SparkSession


def _shuffle_partitions(cpus: str) -> str:
    """1× the local core count (the historical local[32] value), env-
    overridable; the default ``*`` master derives from the machine's
    actual core count (r16 ADVICE: the old constant-32 fallback meant
    the unset-env path was NOT core-derived as documented)."""
    explicit = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if explicit:
        return explicit
    if cpus.isdigit() and int(cpus) > 0:
        return cpus
    return str(os.cpu_count() or 32)


def _default_conf() -> dict[str, str]:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    conf = {
        "spark.sql.shuffle.partitions": _shuffle_partitions(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # 10 MB default is conservative; our dims (region/nation/supplier/
        # part) are far below even at sf100, and broadcasting them removes
        # the shuffle on the fact-table side entirely.
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        # spark.sql.join.preferSortMergeJoin stays at its default
        # (true): MEASURED r16 with an in-process interleaved A/B over
        # the ten join-heaviest headliners (min-of-4 each way, one
        # JVM, conf flipped between reps) — SHJ total 25.84 s vs SMJ
        # 24.70 s at sf0.1; SHJ won only x2_dedup_clusters (-0.35 s)
        # and lost g_hits/funnel/neardup/sessions by more. Flip per
        # deployment via SPARK_GRAFT_SPARKCONF_* if a cluster's
        # profile differs.
        # a session's recurring statement shapes need more than the
        # default 100 generated classes (module docstring)
        "spark.sql.codegen.cache.maxEntries": "1000",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
    }
    # e.g. SPARK_GRAFT_SPARKCONF_spark_sql_join_preferSortMergeJoin=true
    # (case preserved — Spark conf keys are case-sensitive; '_' -> '.',
    # and '__' -> a literal '_' for the rare spark.hadoop.*/vendor keys
    # that genuinely contain underscores — r16 ADVICE)
    prefix = "SPARK_GRAFT_SPARKCONF_"
    for k, v in os.environ.items():
        if k.startswith(prefix) and v:
            key = k[len(prefix):].replace("__", "\0").replace("_", ".")
            conf[key.replace("\0", "_")] = v
    return conf


#: Materialized once at import for introspection/tests; get_spark()
#: re-reads the environment so test fixtures can override per-process.
DEFAULT_CONF: dict[str, str] = _default_conf()


def column_memo(fn=None, *, maxsize=None):
    """Memoize a function that builds a Column expression tree.

    A higher-order-function expression (``transform``/``zip_with``/
    ``aggregate`` with a Python lambda) costs ~20 py4j round trips to
    build, and each query builds its DataFrame afresh. A Column is an
    immutable value, so a tree built from fixed names and constants can
    be reused across plans exactly like ``F.col("x")``: the memo runs
    the same construction code once and serves that object afterwards,
    so plans and results are identical to the unmemoized build. Memos
    hold expression metadata, never data or results.

    The memoized trees are handles into one JVM: they stay valid for
    the life of the process under the one-SparkSession-per-process rule
    above. A process that stops its SparkContext and starts another
    must not reuse them.

    ``@column_memo`` keeps every tree (keys are fixed names);
    ``@column_memo(maxsize=512)`` bounds memos keyed by values, such
    as literal query vectors."""
    if fn is None:
        return lru_cache(maxsize=maxsize)
    return lru_cache(maxsize=maxsize)(fn)


def checkpoint_with(df: DataFrame, *aggs: Column) -> tuple[DataFrame, tuple]:
    """Eagerly checkpoint ``df``; return it with ``aggs`` evaluated over
    it, in argument order, by the checkpoint's own job (an observation,
    where ``.agg().first()`` or ``.count()`` afterwards is one more job,
    two under AQE). Over an empty frame, zero partitions included,
    ``sum``/``min``/``max`` are NULL and ``count`` is 0. DISTINCT
    aggregates cannot be observed."""
    obs = Observation()
    named = [a.alias(f"v{i}") for i, a in enumerate(aggs)]
    out = df.observe(obs, *named).localCheckpoint(eager=True)
    got = obs.get
    return out, tuple(got[f"v{i}"] for i in range(len(aggs)))


def get_spark(app_name: str = "etl-generator-demo-spark") -> SparkSession:
    """Build (or reuse) the process SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in _default_conf().items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
