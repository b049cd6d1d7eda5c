"""Query registry wiring operator implementations to the driver contract.

Every operator from SURVEY.md §2 registers a named (spark_fn, oracle_sql)
pair here; ``__spark_entry__.queries()`` / ``oracle_sql()`` are thin
views over this registry. ``oracle`` is ANSI SQL for DuckDB over the
same parquet views; None means the op is not SQL-expressible and the
driver records a rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None
    survey_ids: tuple[str, ...]  # SURVEY.md §2 operator ids this exercises


REGISTRY: dict[str, RegisteredQuery] = {}


def register(name: str, oracle: str | None, survey_ids: tuple[str, ...] = ()):
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = RegisteredQuery(name, fn, oracle, survey_ids)
        return fn

    return deco


def load_all() -> dict[str, RegisteredQuery]:
    """Import every operator module so registrations run, then return
    the registry."""
    import etl_generator_demo_spark.operators.relational  # noqa: F401
    import etl_generator_demo_spark.operators.windows_sets  # noqa: F401
    import etl_generator_demo_spark.operators.functions_ops  # noqa: F401
    import etl_generator_demo_spark.operators.dedup  # noqa: F401
    import etl_generator_demo_spark.operators.dedup_clusters  # noqa: F401
    import etl_generator_demo_spark.operators.dedup_incremental  # noqa: F401
    import etl_generator_demo_spark.operators.packing  # noqa: F401
    import etl_generator_demo_spark.operators.similarity  # noqa: F401
    import etl_generator_demo_spark.operators.textops  # noqa: F401
    import etl_generator_demo_spark.operators.multimodal  # noqa: F401
    import etl_generator_demo_spark.streaming.windows  # noqa: F401
    import etl_generator_demo_spark.streaming.joins  # noqa: F401
    import etl_generator_demo_spark.operators.asof  # noqa: F401
    import etl_generator_demo_spark.operators.subqueries  # noqa: F401
    import etl_generator_demo_spark.operators.aggregates_ext  # noqa: F401
    import etl_generator_demo_spark.operators.analytics_ext  # noqa: F401
    import etl_generator_demo_spark.operators.hierarchy  # noqa: F401
    import etl_generator_demo_spark.operators.retrieval  # noqa: F401
    import etl_generator_demo_spark.operators.clustering  # noqa: F401
    import etl_generator_demo_spark.operators.skew  # noqa: F401
    import etl_generator_demo_spark.operators.ann_index  # noqa: F401
    import etl_generator_demo_spark.operators.setsim  # noqa: F401
    import etl_generator_demo_spark.operators.tpch_ext  # noqa: F401
    import etl_generator_demo_spark.operators.graph  # noqa: F401
    import etl_generator_demo_spark.operators.surfaces_r8  # noqa: F401
    import etl_generator_demo_spark.operators.stats_r8  # noqa: F401
    import etl_generator_demo_spark.operators.robust_r8  # noqa: F401
    import etl_generator_demo_spark.streaming.dedup  # noqa: F401
    import etl_generator_demo_spark.operators.exact_r8  # noqa: F401
    import etl_generator_demo_spark.operators.dedup_substr  # noqa: F401
    import etl_generator_demo_spark.operators.surfaces_r9  # noqa: F401
    import etl_generator_demo_spark.operators.bpe  # noqa: F401
    import etl_generator_demo_spark.operators.surfaces_r10  # noqa: F401
    import etl_generator_demo_spark.operators.surfaces_r10b  # noqa: F401
    import etl_generator_demo_spark.operators.surfaces_r10d  # noqa: F401
    import etl_generator_demo_spark.operators.timeseries  # noqa: F401
    import etl_generator_demo_spark.operators.surfaces_r11  # noqa: F401
    import etl_generator_demo_spark.operators.unigram_lm  # noqa: F401
    import etl_generator_demo_spark.streaming.cdc  # noqa: F401
    import etl_generator_demo_spark.operators.surfaces_r12  # noqa: F401
    import etl_generator_demo_spark.operators.surfaces_r12b  # noqa: F401
    import etl_generator_demo_spark.operators.cosine_threshold  # noqa: F401
    import etl_generator_demo_spark.operators.decontam  # noqa: F401
    import etl_generator_demo_spark.sources.txlog  # noqa: F401

    return REGISTRY
