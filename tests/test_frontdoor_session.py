"""The front door's session and the generated-code cache.

``api.AppState`` runs front-door SQL in a session of its own, with
adaptive query execution off; every other caller (the registry, the
ETL executor, a write engine) keeps the session it passed in. The
generated-code cache is sized so a session's recurring statements stay
compiled (``session`` module docstring).
"""

from __future__ import annotations

import pytest

from etl_generator_demo_spark.catalog import TABLES, Catalog

AQE = "spark.sql.adaptive.enabled"


@pytest.fixture(scope="module")
def state(spark, catalog):
    from etl_generator_demo_spark.api import AppState

    return AppState(spark, catalog)


def _temp_views(session) -> set[str]:
    return {t.name for t in session.catalog.listTables() if t.isTemporary}


class TestCodegenCache:
    def test_default_conf_carries_the_cache_size(self):
        from etl_generator_demo_spark.session import DEFAULT_CONF

        assert DEFAULT_CONF["spark.sql.codegen.cache.maxEntries"] == "1000"

    def test_repeated_statements_compile_once(self, spark):
        """A rotation of statements whose generated classes outnumber
        Spark's default cache (100 entries) compiles nothing the second
        time round. The literals are distinct per statement, so every
        statement has its own generated source."""
        metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

        def compiles() -> int:
            return metrics.METRIC_COMPILATION_TIME().getCount()

        rotation = [f"SELECT id * {k} + 7919 AS v FROM range(3)" for k in range(2, 62)]

        def run_rotation() -> int:
            c0 = compiles()
            for sql in rotation:
                spark.sql(sql).collect()
            return compiles() - c0

        assert run_rotation() > 100
        assert run_rotation() == 0


class TestFrontDoorSession:
    def test_own_session_with_aqe_off_and_every_view(self, state, spark):
        assert state.spark is not spark
        assert state.spark.sparkContext is spark.sparkContext
        assert state.spark.conf.get(AQE) == "false"
        assert spark.conf.get(AQE) == "true"
        assert set(TABLES) <= _temp_views(state.spark)
        assert state.catalog.spark is state.spark
        assert state.engine.spark is state.spark

    def test_views_registered_in_the_front_door_session_only(self, spark, sf_dir):
        from etl_generator_demo_spark.api import AppState

        parent = spark.newSession()
        cat = Catalog(parent, sf_dir)
        app = AppState(parent, cat)
        assert set(TABLES) <= _temp_views(app.spark)
        assert not _temp_views(parent) & set(TABLES)
        assert cat.spark is parent

    def test_one_job_per_global_aggregate(self, state, spark, catalog, job_delta):
        from etl_generator_demo_spark.api import execute_endpoint
        from etl_generator_demo_spark.engine import ExecutionEngine

        sql = "SELECT COUNT(*) AS n FROM orders WHERE o_orderkey % 7 = 3"
        jobs, out = job_delta(lambda: execute_endpoint(state, {"sql": sql}))
        assert out["success"] and jobs == 1
        # the caller's session keeps AQE, which runs the shuffle as a job of its own
        jobs, res = job_delta(lambda: ExecutionEngine(spark).execute(sql))
        assert res.rows == out["rows"] and jobs == 2

    def test_gate_and_merge_routing_in_the_front_door_session(self, state):
        from etl_generator_demo_spark.api import execute_endpoint

        out = execute_endpoint(state, {"sql": "DROP VIEW orders"})
        assert out["is_blocked"] and out["status_code"] == 400
        assert "orders" in _temp_views(state.spark)
        out = execute_endpoint(
            state, {"sql": "MERGE INTO orders t USING orders s ON t.o_orderkey = s.o_orderkey "
                           "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"})
        assert out["is_blocked"]

    def test_etl_views_stay_readable_by_a_write_engine(self, state, spark, catalog, tmp_path):
        """The ETL executor registers its output as a temp view of the
        session it was given; a write engine over that session reads it
        back, whether or not a front door exists in the process."""
        from etl_generator_demo_spark.engine import ExecutionEngine
        from etl_generator_demo_spark.etl import ETLPipelineExecutor

        etl = ETLPipelineExecutor(spark, catalog, str(tmp_path / "out"))
        res = etl.run({"extract": {"source_tables": ["nation"]},
                       "load": {"target_table": "nation_copy_fd", "write_mode": "overwrite"}})
        writer = ExecutionEngine(spark, allow_writes=True, catalog=Catalog(spark, str(tmp_path)))
        r = writer.execute("SELECT COUNT(*) AS n FROM nation_copy_fd")
        assert r.success and r.rows[0]["n"] == res.rows_written == 25
        assert "nation_copy_fd" not in _temp_views(state.spark)


class TestRootLimit:
    """The auto-limit reads the analyzed plan's root node."""

    @pytest.mark.parametrize(
        "sql, limited, n_rows",
        [
            ("SELECT o_orderkey FROM orders LIMIT 3", True, 3),
            ("WITH t AS (SELECT o_orderkey FROM orders) SELECT * FROM t LIMIT 12", True, 12),
            ("WITH t AS (SELECT o_orderkey FROM orders LIMIT 50) SELECT * FROM t", False, 10),
            ("SELECT * FROM (SELECT o_orderkey FROM orders LIMIT 50) x", False, 10),
            ("SELECT o_orderkey FROM orders OFFSET 2", False, 10),
        ],
    )
    def test_root_only(self, spark, catalog, sql, limited, n_rows):
        from etl_generator_demo_spark.plans.limits import apply_auto_limit, plan_has_limit

        df = spark.sql(sql)
        assert plan_has_limit(df) is limited
        assert len(apply_auto_limit(df, 10).collect()) == n_rows
