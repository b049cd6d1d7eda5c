from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavyweight differential/concurrency pins (~15 min of "
        "wall clock total). Skipped by default so the full suite fits "
        "the driver's pytest budget (r16 VERDICT item 2: the 39-minute "
        "run was truncated at ~92% with zero failures); opt in with "
        "SPARK_GRAFT_SLOW_TESTS=1 — run the slow tier after touching "
        "any operator these tests pin.",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow tier: set SPARK_GRAFT_SLOW_TESTS=1 to run"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from etl_generator_demo_spark.session import get_spark

    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def catalog(spark, sf_dir):
    from etl_generator_demo_spark.catalog import Catalog

    cat = Catalog(spark, sf_dir)
    cat.register_views()
    return cat


@pytest.fixture
def tmp_index_root(tmp_path, monkeypatch):
    """Persisted indexes go to a cache under ``tmp_path`` for the test.
    A corpus written under ``tmp_path`` is a new corpus fingerprint on
    every run, so its indexes would otherwise pile up in the checkout's
    ``.index_cache``, which nothing evicts."""
    from etl_generator_demo_spark.operators import ann_index

    root = tmp_path / ".index_cache"
    monkeypatch.setattr(ann_index, "INDEX_ROOT", str(root))
    return root


@pytest.fixture
def job_delta(spark):
    """``count(fn) -> (jobs, fn())``: the Spark jobs started while
    ``fn()`` runs, as the delta of the highest job id, and its result."""
    tracker = spark.sparkContext.statusTracker()

    def top():
        return max(tracker.getJobIdsForGroup(None) or [-1])

    def count(fn):
        j0 = top()
        out = fn()
        return top() - j0, out

    return count


@pytest.fixture
def replace_table(sf_dir, tmp_path, tmp_index_root):
    """``build(name, frame) -> dir``: a fixture directory under
    ``tmp_path`` whose tables are symlinks into ``sf_dir``, except
    ``name``, which is written from ``frame`` (the degenerate-input
    fixtures: one table cut down, the rest untouched). Each such
    directory is a new corpus fingerprint, so its indexes go to
    ``tmp_index_root``."""

    def build(name, frame):
        from etl_generator_demo_spark.catalog import TABLES

        for other in TABLES:
            if other != name:
                os.symlink(f"{sf_dir}/{other}.parquet", f"{tmp_path}/{other}.parquet")
        frame.coalesce(1).write.parquet(f"{tmp_path}/{name}.parquet")
        return str(tmp_path)

    return build


@pytest.fixture(scope="session")
def oracle_mismatches(spark):
    """``check(fixture_dir, names) -> {name: (spark_rows, duckdb_rows)}``:
    every named registered query run on ``fixture_dir`` and compared
    with its DuckDB oracle over the same files, the driver's way
    (``tools/oracle_check.canon``). A Spark error counts as a mismatch
    (its first line stands in for the rows), so one call reports every
    failing query, not just the first."""
    import duckdb

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
    from oracle_check import canon

    from etl_generator_demo_spark.catalog import TABLES
    from etl_generator_demo_spark.registry import load_all

    def check(fixture_dir, names):
        con = duckdb.connect()
        for name in TABLES:
            path = f"{fixture_dir}/{name}.parquet"
            src = f"{path}/*.parquet" if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
        reg = load_all()
        bad = {}
        for name in names:
            expect = canon(con.execute(reg[name].oracle).fetchdf())
            try:
                got = canon(reg[name].fn(spark, fixture_dir).toPandas())
            except Exception as exc:
                got = repr(exc).splitlines()[0]
            if got != expect:
                bad[name] = (got, expect)
        return bad

    return check
