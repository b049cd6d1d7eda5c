"""Catalog reads: the parquet schema memo."""

from __future__ import annotations


def test_schema_memo_serves_and_invalidates(spark, tmp_path):
    """Schema memo: the second read of an unchanged parquet path is
    served from the memo with an IDENTICAL schema; rewriting the path
    (new mtime stamp) re-infers, so a changed file can never be read
    with a stale schema."""
    import time as _time

    from etl_generator_demo_spark.catalog import (
        _SCHEMA_MEMO,
        read_parquet_known,
    )

    p = str(tmp_path / "t.parquet")
    spark.range(5).selectExpr("id", "id * 2 AS v").write.parquet(p)
    a = read_parquet_known(spark, p)
    import os

    key = os.path.abspath(p)
    assert key in _SCHEMA_MEMO
    b = read_parquet_known(spark, p)
    assert b.schema == a.schema
    assert sorted(r["v"] for r in b.collect()) == [0, 2, 4, 6, 8]

    _time.sleep(0.05)  # ensure a distinct mtime stamp
    spark.range(3).selectExpr(
        "id", "CAST(id AS STRING) AS v", "id AS extra"
    ).write.mode("overwrite").parquet(p)
    c = read_parquet_known(spark, p)
    assert dict(c.dtypes)["v"] == "string" and "extra" in c.columns
    assert c.count() == 3


def test_front_door_shares_the_callers_metadata_walk(spark, sf_dir, monkeypatch):
    """The caller's ``metadata_document()`` and the front door's first
    ``metadata_endpoint`` walk the table schemas once between them: the
    front door's catalog copy shares the caller's document, and an
    invalidation on either side drops it for both."""
    from collections import Counter

    from etl_generator_demo_spark.api import AppState, metadata_endpoint
    from etl_generator_demo_spark.catalog import TABLES, Catalog

    catalog = Catalog(spark, sf_dir)
    state = AppState(spark, catalog)  # registers the front door's views
    calls: Counter[str] = Counter()
    table = Catalog.table

    def counting(self, name):
        calls[name] += 1
        return table(self, name)

    monkeypatch.setattr(Catalog, "table", counting)
    doc = catalog.metadata_document()
    assert metadata_endpoint(state) is doc
    assert calls == Counter({name: 1 for name in TABLES})

    state.catalog.invalidate()
    assert catalog.metadata_document() is not doc
    assert metadata_endpoint(state) is catalog.metadata_document()
