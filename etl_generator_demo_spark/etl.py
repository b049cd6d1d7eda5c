"""ETL pipeline-spec executor — SURVEY.md §2 S7/S8, F1-F3, G3.

The reference *generates* a declarative three-stage spec and renders
it in the UI without ever executing it (``sql_generator.py:40-49``,
demo instance ``:296-311``). Here the spec is an executable program:

    {"extract":  {"source_tables": [...], "conditions": [...]} | {"sql": ...},
     "transform": {"steps": [{"op": ..., ...}, ...]},
     "load":     {"target_table": ..., "write_mode": "append"|"overwrite"}}

Transform-step vocabulary (superset of the step strings the reference
emits — NULL default-fill / date standardization / type validation,
``sql_generator.py:303-305``):

    fill_nulls        {"columns": {col: default}}
    standardize_dates {"column": c, ["format": fmt], ["target": name]}
    cast              {"columns": {col: type}}   (try_cast: bad -> null)
    filter            {"condition": sql_bool_expr}
    select            {"columns": [c, ...]}
    derive            {"column": name, "expr": sql_expr}
    dedup             {"columns": [c, ...]}

Everything compiles to lazy DataFrame transformations — the whole
pipeline is one Catalyst plan, so filters in `conditions` push down to
the extract scan and only `load` triggers execution. Loads write
Parquet tables (append/overwrite), the two modes the reference's spec
contract names.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_generator_demo_spark.catalog import Catalog


class ETLSpecError(ValueError):
    """Invalid or unsupported pipeline spec."""


@dataclass
class ETLResult:
    target_table: str
    write_mode: str
    rows_written: int
    steps_applied: list[str]


class ETLPipelineExecutor:
    """Interprets generated pipeline specs against the catalog."""

    def __init__(self, spark: SparkSession, catalog: Catalog, output_dir: str):
        self.spark = spark
        self.catalog = catalog
        self.output_dir = output_dir

    # -- extract ---------------------------------------------------------
    def _extract(self, spec: dict[str, Any]) -> DataFrame:
        ex = spec.get("extract") or {}
        if "sql" in ex:
            # same read-only gate as the engine front doors: a
            # generated spec must not smuggle DDL/DML through the
            # eagerly-executing spark.sql (CTE-DML included)
            from etl_generator_demo_spark.plans.safety import validate_sql_safety

            verdict = validate_sql_safety(ex["sql"])
            if verdict.is_blocked:
                raise ETLSpecError(
                    f"extract.sql blocked: {verdict.block_reason}"
                )
            df = self.spark.sql(ex["sql"])
        else:
            tables = ex.get("source_tables") or []
            if not tables:
                raise ETLSpecError("extract needs source_tables or sql")
            if len(tables) > 1:
                # multi-table extract without explicit SQL: join along
                # registered FK edges would be ambiguous — require sql.
                raise ETLSpecError("multi-table extract requires extract.sql")
            df = self.catalog.table(tables[0])
        for cond in ex.get("conditions") or []:
            df = df.filter(F.expr(cond))
        return df

    # -- transform ---------------------------------------------------------
    def _apply_step(self, df: DataFrame, step: dict[str, Any]) -> DataFrame:
        op = step.get("op")
        if op == "fill_nulls":
            return df.fillna(step["columns"])
        if op == "standardize_dates":
            col = step["column"]
            fmt = step.get("format", "yyyy-MM-dd")
            target = step.get("target", col)
            return df.withColumn(target, F.date_format(F.col(col), fmt))
        if op == "cast":
            out = df
            for col, typ in step["columns"].items():
                out = out.withColumn(col, F.col(col).try_cast(typ))
            return out
        if op == "filter":
            return df.filter(F.expr(step["condition"]))
        if op == "select":
            return df.select(*step["columns"])
        if op == "derive":
            return df.withColumn(step["column"], F.expr(step["expr"]))
        if op == "dedup":
            return df.dropDuplicates(step["columns"])
        if op == "join":
            # {"op": "join", "table": "nation", "on": ["n_nationkey"],
            #  "how": "left", "broadcast": true}
            how = step.get("how", "inner")
            if how not in ("inner", "left", "left_outer", "leftouter", "left_semi", "left_anti"):
                raise ETLSpecError(f"join how must be inner/left/semi/anti, got {how!r}")
            other = self.catalog.table(step["table"])
            if step.get("broadcast", False):
                other = F.broadcast(other)
            return df.join(other, step["on"], how)
        if op == "expect":
            # {"op": "expect", "condition": "o_totalprice > 0",
            #  "max_violations": 0} — data-quality gate: violations
            # above the budget FAIL the pipeline before anything is
            # written (a load that silently ships bad rows is worse
            # than no load).
            cond = step["condition"]
            budget = int(step.get("max_violations", 0))
            # NULL predicate = violation: an expectation holds only
            # where the condition is TRUE (plain ~cond drops NULL rows
            # from the count and lets them through the gate)
            n_bad = df.filter(~F.coalesce(F.expr(cond), F.lit(False))).count()
            if n_bad > budget:
                raise ETLSpecError(
                    f"expectation failed: {n_bad} rows violate {cond!r} "
                    f"(budget {budget})"
                )
            return df
        if op == "near_dedup":
            # {"op": "near_dedup", "id_col": "doc_id", "text_col": "text"}
            # — the full MinHash-LSH -> connected-components pipeline as
            # one ETL step: only the canonical doc of each near-dup
            # cluster survives. Shapes documented in SCALE.md §Dedup.
            from etl_generator_demo_spark.operators.dedup import doc_lsh_pairs
            from etl_generator_demo_spark.operators.dedup_clusters import dedup_corpus

            id_col = step.get("id_col", "doc_id")
            pairs = doc_lsh_pairs(df, id_col=id_col, text_col=step.get("text_col", "text"))
            return (
                dedup_corpus(df, pairs, id_col=id_col)
                .filter(F.col("is_keep"))
                .drop("cluster_id", "is_keep")
            )
        if op == "quality_filter":
            # {"op": "quality_filter", "text_col": "text",
            #  "min_score": 0.5} — the C4/Gopher-style heuristic gate
            # (length/diversity/stopword score) as an ETL step; the
            # expression is scan-side, so the gate costs no shuffle.
            from etl_generator_demo_spark.operators.textops import quality_score_expr

            text_col = step.get("text_col", "text")
            min_score = float(step.get("min_score", 0.5))
            return df.filter(quality_score_expr(text_col) >= min_score)
        if op == "redact_pii":
            # {"op": "redact_pii", "text_col": "text"} — scrub
            # email/phone/IPv4 in place (scan-side regex chain; the
            # registered x4_pii_scrub query audits the same patterns).
            from etl_generator_demo_spark.operators.textops import redact_pii_expr

            text_col = step.get("text_col", "text")
            return df.withColumn(text_col, redact_pii_expr(text_col))
        if op == "erase":
            # {"op": "erase", "key_col": "user_id", "keys_table": T,
            #  "keys_col": K} — right-to-be-forgotten as an ETL step:
            # drop every row whose key appears in the forget-set
            # relation (a catalog table of deletion requests). The
            # key set aggregates to distinct keys BEFORE the join and
            # broadcasts when small; semantics are the anti join, the
            # row-count impact is what `d_gdpr_erasure_audit` plans.
            key_col = step["key_col"]
            keys = (
                self.catalog.table(step["keys_table"])
                .select(F.col(step.get("keys_col", key_col)).alias(key_col))
                .distinct()
            )
            if step.get("broadcast", True):
                keys = F.broadcast(keys)
            return df.join(keys, key_col, "left_anti")
        raise ETLSpecError(f"unknown transform op: {op!r}")

    # -- load ---------------------------------------------------------
    def run(self, spec: dict[str, Any]) -> ETLResult:
        df = self._extract(spec)
        steps = (spec.get("transform") or {}).get("steps") or []
        applied = []
        for step in steps:
            df = self._apply_step(df, step)
            applied.append(step.get("op", "?"))

        load = spec.get("load") or {}
        target = load.get("target_table")
        if not target or not target.replace("_", "").isalnum():
            raise ETLSpecError(f"invalid load.target_table: {target!r}")
        mode = load.get("write_mode", "append")
        if mode not in ("append", "overwrite"):
            raise ETLSpecError(f"write_mode must be append|overwrite, got {mode!r}")

        path = f"{self.output_dir}/{target}"
        # Observation metrics ride along with the write action itself:
        # this run's row count (append mode makes a post-load directory
        # count wrong, and a separate df.count() would be a FULL extra
        # pass over the pipeline — at 100 TB, the difference between
        # one read of the input and two).
        from pyspark.sql import Observation

        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        writer = df.write.mode(mode)
        partition_by = load.get("partition_by") or []
        if partition_by:
            missing = [c for c in partition_by if c not in df.columns]
            if missing:
                raise ETLSpecError(f"partition_by columns not in output: {missing}")
            # hive-style layout: downstream filters on these columns
            # become partition pruning (directories skipped, not read)
            writer = writer.partitionBy(*partition_by)
        fmt = load.get("format", "parquet")
        if fmt not in ("parquet", "csv", "json", "orc"):
            raise ETLSpecError(f"format must be parquet|csv|json|orc, got {fmt!r}")
        if fmt == "csv":
            writer.option("header", "true").csv(path)
        elif fmt == "json":
            writer.json(path)
        elif fmt == "orc":
            # columnar alternative with the same pushdown/pruning
            # story as parquet (Spark-native, no extra package)
            writer.orc(path)
        else:
            writer.parquet(path)
        n_written = int(obs.get["rows"])
        if fmt == "csv":
            written = self.spark.read.option("header", "true").option(
                "inferSchema", "true"
            ).csv(path)
        elif fmt == "json":
            written = self.spark.read.json(path)
        elif fmt == "orc":
            written = self.spark.read.orc(path)
        else:
            written = self.spark.read.parquet(path)
        written.createOrReplaceTempView(target)
        return ETLResult(
            target_table=target,
            write_mode=mode,
            rows_written=n_written,
            steps_applied=applied,
        )
