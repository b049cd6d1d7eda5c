"""Textual MERGE INTO front door (SURVEY §2.9 D1 stretch).

The reference commits any DML text to PostgreSQL and returns the
affected rowcount (``db_connector.py:244-251``). Here the star-form
MERGE is parsed (``plans/merge.py``) and routed to the parquet upsert;
everything else refuses loudly, and the D2 gate blocks MERGE entirely
for a read-only engine.
"""

from __future__ import annotations

import shutil

import pytest

from etl_generator_demo_spark.catalog import Catalog
from etl_generator_demo_spark.engine import ExecutionEngine
from etl_generator_demo_spark.plans.merge import UnsupportedMergeError, parse_merge
from etl_generator_demo_spark.plans.safety import validate_sql_safety


@pytest.fixture()
def mut_dir(tmp_path, sf_dir):
    """A private copy of the fixture dir: MERGE mutates its target."""
    for t in ("orders", "nation"):
        shutil.copy(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    return str(tmp_path)


@pytest.fixture()
def wr_engine(spark, mut_dir):
    cat = Catalog(spark, mut_dir)
    cat.register_views(("orders", "nation"))
    eng = ExecutionEngine(spark, allow_writes=True, catalog=cat)
    yield eng
    # re-register the shared test views the Catalog above replaced
    Catalog(spark, "/root/testdata/sf0.001").register_views()


MERGE_SQL = """
    MERGE INTO nation AS t
    USING (SELECT n_nationkey, upper(n_name) AS n_name,
                  CAST(n_regionkey + 0 AS INT) AS n_regionkey
           FROM nation WHERE n_nationkey < 3
           UNION ALL
           SELECT CAST(900 AS INT), 'NEWLAND', CAST(0 AS INT)) AS s
    ON t.n_nationkey = s.n_nationkey
    WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED THEN INSERT *
"""


#: Jobs one front-door MERGE of MERGE_SQL may start: 9 measured with
#: the one-aggregate bookkeeping, 16 with three source counts and a
#: read-back count (TestMergeBookkeeping.test_merge_job_count).
MERGE_MAX_JOBS = 9


class TestParser:
    def test_star_form_parses(self):
        spec = parse_merge(MERGE_SQL)
        assert spec.target == "nation"
        assert spec.key_cols == ("n_nationkey",)
        assert spec.source_table is None and "UNION ALL" in spec.source_sql

    def test_bare_table_source_and_reversed_when_order(self):
        spec = parse_merge(
            "MERGE INTO orders USING staged_orders s ON orders.o_orderkey = s.o_orderkey "
            "WHEN NOT MATCHED THEN INSERT * WHEN MATCHED THEN UPDATE SET *"
        )
        assert spec.source_table == "staged_orders"
        assert spec.key_cols == ("o_orderkey",)

    def test_compound_key(self):
        spec = parse_merge(
            "MERGE INTO orders t USING src s ON t.a = s.a AND s.b = t.b "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
        assert spec.key_cols == ("a", "b")

    @pytest.mark.parametrize(
        "sql",
        [
            # per-column SET list
            "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET x = 1 "
            "WHEN NOT MATCHED THEN INSERT *",
            # DELETE action
            "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN DELETE "
            "WHEN NOT MATCHED THEN INSERT *",
            # non-equi ON
            "MERGE INTO t USING s ON t.k < s.k WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *",
            # differently-named key columns
            "MERGE INTO t USING s ON t.k1 = s.k2 WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *",
            # conditional WHEN
            "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED AND s.x > 1 THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *",
            # subquery source without alias
            "MERGE INTO t USING (SELECT 1 AS k) ON t.k = k WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *",
        ],
    )
    def test_non_star_forms_refused(self, sql):
        with pytest.raises(UnsupportedMergeError):
            parse_merge(sql)

    def test_string_literal_cannot_desync(self):
        # 'WHEN MATCHED' inside a source literal must not terminate the
        # ON scan early
        spec = parse_merge(
            "MERGE INTO t USING (SELECT 'ON WHEN MATCHED' AS tag, 1 AS k) s "
            "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
        assert spec.key_cols == ("k",)


class TestFrontDoor:
    def test_merge_upsert_and_replay_noop(self, spark, wr_engine, mut_dir):
        before = spark.read.parquet(f"{mut_dir}/nation.parquet").count()
        res = wr_engine.execute(MERGE_SQL)
        assert res.success, res.error
        assert res.rows == [{"n_updated": 3, "n_inserted": 1}]
        assert res.row_count == 4
        after = spark.read.parquet(f"{mut_dir}/nation.parquet")
        assert after.count() == before + 1
        assert after.filter("n_name = 'NEWLAND'").count() == 1
        assert after.filter("n_nationkey < 3 AND n_name <> upper(n_name)").count() == 0
        # replay: the same statement now matches all 4 keys -> pure
        # update, no second insert, table unchanged in size (idempotent
        # upsert — the reference's committed DML has no such replay story)
        res2 = wr_engine.execute(MERGE_SQL)
        assert res2.success and res2.rows == [{"n_updated": 4, "n_inserted": 0}]
        assert spark.read.parquet(f"{mut_dir}/nation.parquet").count() == before + 1

    def test_gate_blocks_merge_read_only(self, spark, mut_dir):
        eng = ExecutionEngine(spark, allow_writes=False, catalog=Catalog(spark, mut_dir))
        res = eng.execute(MERGE_SQL)
        assert not res.success and res.is_blocked
        v = validate_sql_safety(MERGE_SQL, allow_writes=False)
        assert v.is_blocked and v.is_write

    def test_merge_without_catalog_errors(self, spark):
        eng = ExecutionEngine(spark, allow_writes=True)
        res = eng.execute(MERGE_SQL)
        assert not res.success and "catalog" in res.error

    def test_unknown_target_errors(self, spark, wr_engine):
        res = wr_engine.execute(
            "MERGE INTO not_a_table USING nation s ON not_a_table.n_nationkey = s.n_nationkey "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
        assert not res.success and "not a catalog table" in res.error

    def test_duplicate_source_keys_rejected(self, spark, wr_engine, mut_dir):
        before = spark.read.parquet(f"{mut_dir}/nation.parquet").count()
        res = wr_engine.execute(
            "MERGE INTO nation t USING (SELECT CAST(1 AS BIGINT) AS n_nationkey, 'A' AS n_name, "
            "CAST(0 AS INT) AS n_regionkey UNION ALL SELECT CAST(1 AS BIGINT), 'B', "
            "CAST(0 AS INT)) s ON t.n_nationkey = s.n_nationkey "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
        assert not res.success and "duplicate keys" in res.error
        # cardinality error left the target untouched
        assert spark.read.parquet(f"{mut_dir}/nation.parquet").count() == before

    def test_crashed_swap_recovered_before_routing(self, spark, wr_engine, mut_dir):
        """A crash between the two swap renames parks the table at
        ``path + '.old'`` (see mutations._staged_overwrite). The front
        door must self-heal that window — recover_staged runs before
        the existence check — instead of refusing with 'not a catalog
        table' (r8 advice)."""
        import os

        path = f"{mut_dir}/nation.parquet"
        before = spark.read.parquet(path).count()
        os.rename(path, path + ".old")  # simulate the crash window
        res = wr_engine.execute(MERGE_SQL)
        assert res.success, res.error
        assert res.rows == [{"n_updated": 3, "n_inserted": 1}]
        assert not os.path.exists(path + ".old")
        assert spark.read.parquet(path).count() == before + 1

    def test_views_see_post_merge_state(self, spark, wr_engine, mut_dir):
        """A view registered before the merge reads the swapped files
        afterwards (refreshByPath covers the replaced listing)."""
        wr_engine.catalog.register_views(("nation",))
        assert wr_engine.execute(MERGE_SQL).success
        got = spark.sql("SELECT count(*) AS n FROM nation WHERE n_name='NEWLAND'").collect()
        assert got[0]["n"] == 1


def _tree_bytes(path):
    import hashlib
    import os

    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), path)] = hashlib.sha256(
                    fh.read()
                ).hexdigest()
    return out


class TestMergeBookkeeping:
    """merge_parquet's counts come from one aggregate over source LEFT
    JOIN distinct target keys; these pin its NULL and duplicate rules."""

    SCHEMA = "k long, v string"

    def _target(self, spark, tmp_path, rows):
        path = str(tmp_path / "t")
        spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.parquet(path)
        return path

    def test_null_source_key_once_is_not_a_duplicate(self, spark, tmp_path):
        from etl_generator_demo_spark.sources.mutations import merge_parquet

        path = self._target(spark, tmp_path, [(1, "a"), (None, "n")])
        src = spark.createDataFrame([(1, "A"), (None, "N")], self.SCHEMA)
        # a NULL key never matches (equi-join), so the NULL row inserts
        assert merge_parquet(spark, path, src, ["k"]) == (1, 1)
        assert spark.read.parquet(path).count() == 3

    def test_null_source_key_twice_is_a_duplicate(self, spark, tmp_path):
        from etl_generator_demo_spark.sources.mutations import merge_parquet

        path = self._target(spark, tmp_path, [(1, "a")])
        src = spark.createDataFrame([(None, "x"), (None, "y")], self.SCHEMA)
        with pytest.raises(ValueError, match="duplicate keys"):
            merge_parquet(spark, path, src, ["k"])

    def test_duplicate_target_keys_collapse(self, spark, tmp_path):
        from etl_generator_demo_spark.sources.mutations import merge_parquet

        path = self._target(spark, tmp_path, [(1, "a"), (1, "b"), (2, "c")])
        src = spark.createDataFrame([(1, "A"), (3, "C")], self.SCHEMA)
        # n_updated counts matched KEYS: the two k=1 rows become one
        assert merge_parquet(spark, path, src, ["k"]) == (1, 1)
        got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
        assert got == [(1, "A"), (2, "c"), (3, "C")]

    def test_duplicate_source_keys_leave_target_byte_identical(self, spark, tmp_path):
        from etl_generator_demo_spark.sources.mutations import merge_parquet

        path = self._target(spark, tmp_path, [(1, "a"), (2, "b")])
        before = _tree_bytes(path)
        src = spark.createDataFrame([(2, "x"), (2, "y"), (5, "z")], self.SCHEMA)
        with pytest.raises(ValueError, match="duplicate keys"):
            merge_parquet(spark, path, src, ["k"])
        assert _tree_bytes(path) == before
        assert not [p for p in tmp_path.iterdir() if p.name.startswith(".staging_")]

    def test_merge_job_count(self, spark, wr_engine):
        """Spark jobs per front-door MERGE, counted as the delta of the
        highest job id, stay at or under the measured budget."""
        tracker = spark.sparkContext.statusTracker()

        def top():
            return max(tracker.getJobIdsForGroup(None) or [-1])

        assert wr_engine.execute(MERGE_SQL).success  # warm the session
        j0 = top()
        res = wr_engine.execute(MERGE_SQL)
        assert res.success and res.rows == [{"n_updated": 4, "n_inserted": 0}]
        assert top() - j0 <= MERGE_MAX_JOBS, top() - j0
