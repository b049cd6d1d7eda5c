"""Generation layer (G1-G7), ETL executor, and API-shape tests —
SURVEY §5 items 3-5 (golden demo SQL, blocklist, lifecycle shapes)."""

from __future__ import annotations

import json

import pytest

from etl_generator_demo_spark.generation import (
    blocked_response,
    build_prompt,
    bundled_sample_metadata,
    generate_demo_response,
    generate_sample_queries,
    generate_sql,
    parse_llm_response,
    resolve_metadata,
)


@pytest.fixture(scope="module")
def metadata():
    return bundled_sample_metadata()


class TestDemoGeneration:
    def test_golden_template_sql(self, metadata):
        out = generate_demo_response("show me orders", metadata)
        assert not out["is_blocked"]
        assert out["sql"] == (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate"
            "\nFROM orders\nLIMIT 10"
        )
        assert out["tables_used"] == ["orders"]

    def test_mandatory_filters_injected(self, metadata):
        md = json.loads(json.dumps(metadata))
        md["constraints"]["mandatory_filters"] = ["o_orderstatus <> 'X'"]
        md["constraints"]["soft_delete_rule"] = "o_totalprice > 0"
        out = generate_demo_response("orders", md)
        assert "WHERE o_orderstatus <> 'X' AND o_totalprice > 0" in out["sql"]

    def test_blocklist_korean_and_english(self, metadata):
        for req in ("please DELETE everything", "테이블 삭제해줘", "update the rows"):
            out = generate_demo_response(req, metadata)
            assert out["is_blocked"] and "SELECT" in out["block_reason"]

    def test_etl_spec_shape(self, metadata):
        out = generate_demo_response("orders", metadata, include_etl=True)
        etl = out["etl_pipeline"]
        assert set(etl) == {"extract", "transform", "load"}
        assert etl["load"]["write_mode"] in ("append", "overwrite")

    def test_empty_request_blocked(self, metadata):
        assert generate_sql("   ", metadata)["is_blocked"]

    def test_unconfigured_providers_fall_back_to_demo(self, metadata, monkeypatch):
        monkeypatch.delenv("OPENAI_API_KEY", raising=False)
        monkeypatch.delenv("GOOGLE_API_KEY", raising=False)
        out = generate_sql("orders", metadata, provider="openai")
        assert not out["is_blocked"] and out["sql"].startswith("SELECT")


class TestParseLLMResponse:
    def test_fenced_json(self):
        doc = {"intent_summary": "x", "sql": "SELECT 1", "tables_used": []}
        out = parse_llm_response(f"```json\n{json.dumps(doc)}\n```")
        assert out["sql"] == "SELECT 1" and not out["is_blocked"]

    def test_invalid_json_blocked(self):
        out = parse_llm_response("I think the answer is SELECT 1")
        assert out["is_blocked"] and "format error" in out["block_reason"]

    def test_write_sql_from_llm_gated(self):
        out = parse_llm_response(json.dumps({"sql": "DROP TABLE users"}))
        assert out["is_blocked"]

    def test_defaults_filled(self):
        out = parse_llm_response(json.dumps({"sql": "SELECT 1"}))
        assert out["assumptions"] == [] and out["safety_notes"] == []


class TestSamplesAndMetadata:
    def test_sample_queries_deterministic_and_capped(self, metadata):
        s1 = generate_sample_queries(metadata)
        s2 = generate_sample_queries(metadata)
        assert s1 == s2 and 0 < len(s1) <= 10

    def test_resolution_priority(self, metadata, catalog):
        supplied = {"schema_summary": {"tables": [], "relationships": []}}
        assert resolve_metadata(supplied, catalog) is supplied
        assert resolve_metadata(None, catalog) is catalog.metadata_document()
        assert resolve_metadata(None, None)["db_version"] == "sample"

    def test_prompt_contains_schema_and_request(self, metadata):
        p = build_prompt("top customers", metadata, include_etl=True)
        assert "orders" in p and "top customers" in p and "etl_pipeline" in p


class TestETLExecutor:
    @pytest.fixture()
    def executor(self, spark, catalog, tmp_path):
        from etl_generator_demo_spark.etl import ETLPipelineExecutor

        return ETLPipelineExecutor(spark, catalog, str(tmp_path))

    def test_full_pipeline(self, executor, spark):
        spec = {
            "extract": {"source_tables": ["orders"], "conditions": ["o_totalprice > 100000"]},
            "transform": {
                "steps": [
                    {"op": "derive", "column": "year", "expr": "year(o_orderdate)"},
                    {"op": "select", "columns": ["o_orderkey", "o_custkey", "year"]},
                    {"op": "dedup", "columns": ["o_orderkey"]},
                ]
            },
            "load": {"target_table": "big_orders", "write_mode": "overwrite"},
        }
        res = executor.run(spec)
        assert res.rows_written > 0
        assert res.steps_applied == ["derive", "select", "dedup"]
        assert spark.table("big_orders").columns == ["o_orderkey", "o_custkey", "year"]

    def test_append_accumulates(self, executor):
        spec = {
            "extract": {"source_tables": ["region"]},
            "transform": {"steps": []},
            "load": {"target_table": "region_copy", "write_mode": "append"},
        }
        r1 = executor.run(spec)
        r2 = executor.run(spec)
        # rows_written reports THIS run's output, not the accumulated
        # directory count; the target itself accumulates
        assert r2.rows_written == r1.rows_written
        assert executor.spark.table("region_copy").count() == 2 * r1.rows_written

    def test_sql_extract_and_cast_and_fill(self, executor, spark):
        spec = {
            "extract": {"sql": "SELECT o_orderkey, o_orderpriority FROM orders"},
            "transform": {
                "steps": [
                    {"op": "cast", "columns": {"o_orderpriority": "bigint"}},
                    {"op": "fill_nulls", "columns": {"o_orderpriority": -1}},
                ]
            },
            "load": {"target_table": "cast_check", "write_mode": "overwrite"},
        }
        executor.run(spec)
        vals = {r["o_orderpriority"] for r in spark.table("cast_check").collect()}
        assert vals == {-1}  # every cast fails -> null -> filled

    def test_partitioned_load_and_pruning(self, executor, spark, tmp_path):
        spec = {
            "extract": {"source_tables": ["orders"]},
            "transform": {
                "steps": [{"op": "derive", "column": "year", "expr": "year(o_orderdate)"}]
            },
            "load": {
                "target_table": "orders_by_year",
                "write_mode": "overwrite",
                "partition_by": ["year"],
            },
        }
        res = executor.run(spec)
        assert res.rows_written == 1500
        pruned = spark.table("orders_by_year").filter("year = 1997")
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        # hive layout -> the year filter prunes directories at the scan
        assert "PartitionFilters: [isnotnull(year" in plan
        assert pruned.count() > 0

    def test_partition_by_unknown_column_rejected(self, executor):
        from etl_generator_demo_spark.etl import ETLSpecError

        with pytest.raises(ETLSpecError):
            executor.run(
                {
                    "extract": {"source_tables": ["region"]},
                    "load": {
                        "target_table": "x",
                        "write_mode": "overwrite",
                        "partition_by": ["nope"],
                    },
                }
            )

    def test_bad_specs_rejected(self, executor):
        from etl_generator_demo_spark.etl import ETLSpecError

        with pytest.raises(ETLSpecError):
            executor.run({"extract": {}, "load": {"target_table": "x"}})
        with pytest.raises(ETLSpecError):
            executor.run(
                {"extract": {"source_tables": ["orders", "customer"]},
                 "load": {"target_table": "x"}}
            )
        with pytest.raises(ETLSpecError):
            executor.run(
                {"extract": {"source_tables": ["orders"]},
                 "load": {"target_table": "x", "write_mode": "merge"}}
            )
        with pytest.raises(ETLSpecError):
            executor.run(
                {"extract": {"source_tables": ["orders"]},
                 "load": {"target_table": "../evil", "write_mode": "append"}}
            )


class TestAPIShapes:
    @pytest.fixture(scope="class")
    def state(self, spark, catalog):
        from etl_generator_demo_spark.api import AppState

        return AppState(spark, catalog)

    def test_status(self, state):
        from etl_generator_demo_spark.api import status_endpoint

        out = status_endpoint(state)
        assert out["connected"] and out["n_tables"] == 10

    def test_generate_then_execute_roundtrip(self, state):
        from etl_generator_demo_spark.api import execute_endpoint, generate_sql_endpoint

        gen = generate_sql_endpoint(state, {"request": "show recent orders"})
        assert not gen.get("is_blocked") and gen["sql"]
        res = execute_endpoint(state, {"sql": gen["sql"], "limit": 50})
        # template targets the first catalog table (region, 5 rows) with LIMIT 10
        assert res["success"] and 0 < res["row_count"] <= 10

    def test_execute_blocked_write(self, state):
        from etl_generator_demo_spark.api import execute_endpoint

        res = execute_endpoint(state, {"sql": "DROP TABLE orders"})
        assert res["status_code"] == 400 and res["is_blocked"]

    def test_empty_request_400(self, state):
        from etl_generator_demo_spark.api import generate_sql_endpoint

        assert generate_sql_endpoint(state, {"request": ""})["status_code"] == 400

    def test_samples(self, state):
        from etl_generator_demo_spark.api import samples_endpoint

        out = samples_endpoint(state)
        assert len(out["samples"]) == 10

    def test_connect_local_catalog(self, state):
        from etl_generator_demo_spark.api import connect_endpoint

        out = connect_endpoint(state, {})
        assert out["success"] and out["db_type"] == "spark" and out["n_tables"] == 10

    def test_connect_jdbc_unreachable_error_envelope(self, state):
        from etl_generator_demo_spark.api import connect_endpoint

        out = connect_endpoint(
            state,
            {"db_type": "postgresql", "host": "localhost", "database": "nope",
             "user": "u", "password": "p"},
        )
        assert not out["success"] and out["status_code"] == 400

    def test_connect_jdbc_missing_field(self, state):
        from etl_generator_demo_spark.api import connect_endpoint

        out = connect_endpoint(state, {"db_type": "mysql", "host": "h"})
        assert not out["success"] and "missing field" in out["error"]

    def test_show_and_describe_through_execute(self, state):
        from etl_generator_demo_spark.api import execute_endpoint

        res = execute_endpoint(state, {"sql": "SHOW TABLES", "limit": 50})
        assert res["success"]
        names = {r.get("tableName") for r in res["rows"]}
        assert "orders" in names
        res = execute_endpoint(state, {"sql": "DESCRIBE orders", "limit": 50})
        assert res["success"]
        cols = {r["col_name"] for r in res["rows"]}
        assert "o_orderkey" in cols

    def test_concurrent_stateless_execution(self, state):
        """Two threads sharing the session must not interfere — the
        reference's per-worker mutable connector state (SURVEY §3
        caveat) is exactly what this layer does not have."""
        import concurrent.futures

        from etl_generator_demo_spark.api import execute_endpoint

        def run(i):
            sql = f"SELECT COUNT(*) AS n FROM orders WHERE o_custkey % 5 = {i}"
            return execute_endpoint(state, {"sql": sql, "limit": None})

        with concurrent.futures.ThreadPoolExecutor(max_workers=4) as pool:
            results = list(pool.map(run, range(4)))
        assert all(r["success"] for r in results)
        assert sum(r["rows"][0]["n"] for r in results) == sum(
            1 for _ in range(0)
        ) + state.spark.sql(
            "SELECT COUNT(*) n FROM orders WHERE o_custkey % 5 < 4"
        ).first()["n"]


class TestNearDedupStep:
    @pytest.fixture()
    def executor(self, spark, catalog, tmp_path):
        from etl_generator_demo_spark.etl import ETLPipelineExecutor

        return ETLPipelineExecutor(spark, catalog, str(tmp_path))

    def test_near_dedup_keeps_one_per_cluster(self, executor, spark, sf_dir):
        """Planted near-identical docs collapse to the canonical
        (minimum-id) survivor; unrelated docs pass through."""
        base = "the quick brown fox jumps over the lazy dog again and again today"
        rows = [
            (10, base),
            (11, base + " extra"),          # near-dup of 10
            (12, "completely different words " + " ".join(f"t{i}" for i in range(12))),
        ]
        spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
            "nd_docs"
        )
        spec = {
            "extract": {"sql": "SELECT * FROM nd_docs"},
            "transform": {"steps": [{"op": "near_dedup"}]},
            "load": {"target_table": "nd_out", "write_mode": "overwrite"},
        }
        res = executor.run(spec)
        assert res.steps_applied == ["near_dedup"]
        kept = sorted(r["doc_id"] for r in spark.table("nd_out").collect())
        assert kept == [10, 12]

    def test_near_dedup_honours_id_and_text_columns(self, executor, spark):
        """The step's ``id_col``/``text_col`` reach every stage of the
        pair chain, the band join included."""
        base = "the quick brown fox jumps over the lazy dog again and again today"
        spark.createDataFrame(
            [(10, base), (11, base + " extra"), (12, " ".join(f"t{i}" for i in range(16)))],
            "pid long, body string",
        ).createOrReplaceTempView("nd_docs_cols")
        spec = {
            "extract": {"sql": "SELECT * FROM nd_docs_cols"},
            "transform": {
                "steps": [{"op": "near_dedup", "id_col": "pid", "text_col": "body"}]
            },
            "load": {"target_table": "nd_out_cols", "write_mode": "overwrite"},
        }
        executor.run(spec)
        kept = sorted(r["pid"] for r in spark.table("nd_out_cols").collect())
        assert kept == [10, 12]


class TestCallableProvider:
    """The bring-your-own-LLM hook exercises the LIVE code path
    (prompt assembly -> model call -> JSON parse -> post-parse safety
    gate) with a deterministic fake model."""

    def test_prompt_carries_schema_and_request(self, catalog):
        from etl_generator_demo_spark.generation import generate_sql

        seen = {}

        def fake_model(prompt: str) -> str:
            seen["prompt"] = prompt
            return '{"intent_summary": "s", "sql": "SELECT 1 AS one"}'

        out = generate_sql("show one", catalog.metadata_document(), provider=fake_model)
        assert out["sql"] == "SELECT 1 AS one" and out["is_blocked"] is False
        assert "## Database metadata" in seen["prompt"]
        assert "show one" in seen["prompt"]
        assert "orders" in seen["prompt"]  # schema made it into the prompt

    def test_model_emitting_write_sql_is_blocked_post_parse(self, catalog):
        """Even a compromised/hallucinating model cannot get a write
        through: the gate validates the PARSED SQL, not the request."""
        from etl_generator_demo_spark.generation import generate_sql

        out = generate_sql(
            "innocent request",
            catalog.metadata_document(),
            provider=lambda p: '{"intent_summary": "x", "sql": "DROP TABLE orders"}',
        )
        assert out["is_blocked"] is True
        assert out["block_reason"]

    def test_malformed_model_output_degrades_to_error_shape(self, catalog):
        from etl_generator_demo_spark.generation import generate_sql

        out = generate_sql(
            "q", catalog.metadata_document(), provider=lambda p: "not json at all"
        )
        assert out["is_blocked"] is True or out["sql"] in ("", None)


class TestJoinAndExpectSteps:
    @pytest.fixture()
    def executor(self, spark, catalog, tmp_path):
        from etl_generator_demo_spark.etl import ETLPipelineExecutor

        return ETLPipelineExecutor(spark, catalog, str(tmp_path))

    def test_join_step_enriches_and_broadcasts(self, executor, spark):
        spec = {
            "extract": {"source_tables": ["customer"]},
            "transform": {
                "steps": [
                    {"op": "select", "columns": ["c_custkey", "c_nationkey"]},
                    {
                        "op": "derive",
                        "column": "n_nationkey",
                        "expr": "c_nationkey",
                    },
                    {"op": "join", "table": "nation", "on": ["n_nationkey"],
                     "how": "left", "broadcast": True},
                    {"op": "select", "columns": ["c_custkey", "n_name"]},
                ]
            },
            "load": {"target_table": "cust_nation", "write_mode": "overwrite"},
        }
        res = executor.run(spec)
        out = spark.table("cust_nation")
        assert res.rows_written == 150
        assert out.filter("n_name IS NULL").count() == 0

    def test_join_rejects_outer_modes(self, executor):
        from etl_generator_demo_spark.etl import ETLSpecError

        with pytest.raises(ETLSpecError, match="join how"):
            executor.run(
                {
                    "extract": {"source_tables": ["region"]},
                    "transform": {"steps": [{"op": "join", "table": "nation",
                                             "on": ["r_regionkey"], "how": "full"}]},
                    "load": {"target_table": "x", "write_mode": "overwrite"},
                }
            )

    def test_expect_gate_passes_and_fails(self, executor, spark, tmp_path):
        ok = {
            "extract": {"source_tables": ["orders"]},
            "transform": {"steps": [{"op": "expect", "condition": "o_totalprice > 0"}]},
            "load": {"target_table": "orders_ok", "write_mode": "overwrite"},
        }
        assert executor.run(ok).rows_written == 1500

        from etl_generator_demo_spark.etl import ETLSpecError

        bad = {
            "extract": {"source_tables": ["orders"]},
            "transform": {
                "steps": [{"op": "expect", "condition": "o_totalprice > 100000"}]
            },
            "load": {"target_table": "orders_bad", "write_mode": "overwrite"},
        }
        with pytest.raises(ETLSpecError, match="expectation failed"):
            executor.run(bad)
        # gate fired BEFORE load: nothing was written
        import os

        assert not os.path.exists(str(tmp_path / "orders_bad"))


class TestCurationSteps:
    @pytest.fixture()
    def executor(self, spark, catalog, tmp_path):
        from etl_generator_demo_spark.etl import ETLPipelineExecutor

        return ETLPipelineExecutor(spark, catalog, str(tmp_path))

    def test_quality_filter_drops_junk_keeps_prose(self, executor, spark):
        rows = [
            (1, "the cat sat on the mat and the dog slept in the sun for an "
                "hour while the quick brown fox jumped over a fence to chase "
                "a squirrel across the long green garden in the morning light "
                "of a clear and quiet day in it is a good day to walk"),
            (2, "aa aa aa aa aa aa aa aa"),  # degenerate: no diversity
        ]
        spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
            "qf_docs"
        )
        spec = {
            "extract": {"sql": "SELECT * FROM qf_docs"},
            "transform": {"steps": [{"op": "quality_filter", "min_score": 0.5}]},
            "load": {"target_table": "qf_out", "write_mode": "overwrite"},
        }
        res = executor.run(spec)
        assert res.steps_applied == ["quality_filter"]
        kept = [r["doc_id"] for r in spark.table("qf_out").collect()]
        assert kept == [1]

    def test_redact_pii_scrubs_in_place(self, executor, spark):
        rows = [(1, "contact bob@example.com or 192.168.0.1 now")]
        spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
            "pii_docs"
        )
        spec = {
            "extract": {"sql": "SELECT * FROM pii_docs"},
            "transform": {"steps": [{"op": "redact_pii"}]},
            "load": {"target_table": "pii_out", "write_mode": "overwrite"},
        }
        executor.run(spec)
        text = spark.table("pii_out").first()["text"]
        assert "bob@example.com" not in text and "192.168.0.1" not in text
        assert "[EMAIL]" in text or "EMAIL" in text


class TestEraseStep:
    @pytest.fixture()
    def executor(self, spark, catalog, tmp_path):
        from etl_generator_demo_spark.etl import ETLPipelineExecutor

        return ETLPipelineExecutor(spark, catalog, str(tmp_path))

    def test_erase_drops_forget_set_rows(self, executor, spark, sf_dir):
        """The erase step anti-joins the key relation: exactly the
        customers whose key appears in the forget set (here: event
        user ids) disappear, everything else survives."""
        spec = {
            "extract": {"source_tables": ["customer"]},
            "transform": {"steps": [{
                "op": "erase",
                "key_col": "c_custkey",
                "keys_table": "events",
                "keys_col": "user_id",
            }]},
            "load": {"target_table": "erase_out", "write_mode": "overwrite"},
        }
        res = executor.run(spec)
        assert res.steps_applied == ["erase"]
        kept = {r["c_custkey"] for r in spark.table("erase_out").collect()}
        forget = {r["user_id"] for r in spark.table("events").select("user_id").distinct().collect()}
        all_keys = {r["c_custkey"] for r in spark.table("customer").collect()}
        assert kept == all_keys - forget
        assert kept and forget & all_keys, "fixture must exercise both sides"


class TestETLGateAndNullSemantics:
    @pytest.fixture()
    def executor(self, spark, catalog, tmp_path):
        from etl_generator_demo_spark.etl import ETLPipelineExecutor

        return ETLPipelineExecutor(spark, catalog, str(tmp_path))

    def test_extract_sql_is_gated(self, executor):
        """A generated spec must not smuggle DDL/DML through the
        eagerly-executing extract.sql — same gate as the front door."""
        from etl_generator_demo_spark.etl import ETLSpecError

        for sql in (
            "DROP TABLE orders",
            "WITH d AS (SELECT 1 AS x) INSERT INTO orders SELECT * FROM d",
        ):
            with pytest.raises(ETLSpecError, match="blocked"):
                executor.run({
                    "extract": {"sql": sql},
                    "load": {"target_table": "gate_out", "write_mode": "overwrite"},
                })

    def test_table_filters_apply_to_etl_reads(self, spark, sf_dir, tmp_path):
        """Mandatory filters (P5) must hold on EVERY access path: the
        ETL extract reads through Catalog.table, not the SQL views."""
        from etl_generator_demo_spark.catalog import Catalog
        from etl_generator_demo_spark.etl import ETLPipelineExecutor

        cat = Catalog(spark, sf_dir, table_filters={
            "orders": ["o_orderpriority <> '1-URGENT'"]
        })
        ex = ETLPipelineExecutor(spark, cat, str(tmp_path))
        res = ex.run({
            "extract": {"source_tables": ["orders"]},
            "load": {"target_table": "p5_out", "write_mode": "overwrite"},
        })
        got = spark.table("p5_out")
        assert got.filter("o_orderpriority = '1-URGENT'").count() == 0
        assert res.rows_written == got.count() > 0
        Catalog(spark, sf_dir).register_views()  # restore unfiltered views

    def test_expect_counts_null_condition_as_violation(self, executor, spark):
        spark.createDataFrame(
            [(1, 10.0), (2, None)], "id long, v double"
        ).createOrReplaceTempView("null_gate_src")
        from etl_generator_demo_spark.etl import ETLSpecError

        with pytest.raises(ETLSpecError, match="expectation failed"):
            executor.run({
                "extract": {"sql": "SELECT * FROM null_gate_src"},
                "transform": {"steps": [{"op": "expect", "condition": "v > 0"}]},
                "load": {"target_table": "ng_out", "write_mode": "overwrite"},
            })
