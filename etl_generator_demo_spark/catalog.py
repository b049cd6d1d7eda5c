"""Catalog + metadata layer.

The reference's central data structure is a JSON *metadata document*
describing tables/columns/PKs/FKs/constraints (shape defined at
``db_connector.py:155-167`` and ``sample_metadata.py:6-81``), built by
introspecting a live DB and cached until reconnect
(``db_connector.py:23,96-97,175``). Here the same document is derived
from the Spark catalog: Parquet fixtures are registered as temp views,
column types come from the ``StructType``, and PK/FK/description/
constraint facts — which Spark's catalog does not model — live in a
sidecar registry (SURVEY.md §7.3 item 4).

Scale posture: registration is metadata-only (no data read besides the
Parquet footer), and every query that consumes these views gets
predicate pushdown / column pruning at the Parquet scan for free.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def _events_has_nanos_ts(path: str) -> bool:
    """Footer-only probe: does the events parquet carry
    TIMESTAMP(NANOS)? Driver-side pyarrow metadata read, no Spark job;
    unreadable footers fall back to False (the plain read then either
    works or fails loudly instead of silently flipping session conf)."""
    import glob
    import os

    try:
        import pyarrow.parquet as pq

        files = (
            glob.glob(os.path.join(path, "*.parquet"))
            if os.path.isdir(path)
            else [path]
        )
        if not files:
            return False
        schema = pq.ParquetFile(files[0]).schema_arrow
        field = schema.field("ts") if "ts" in schema.names else None
        return bool(field) and str(field.type) in ("timestamp[ns]", "timestamp[ns, tz=UTC]")
    except Exception:
        return False


#: Schema memo for immutable parquet paths: (abs path) -> (stamp,
#: StructType). Re-inferring a parquet schema costs a driver-side
#: footer read + JVM round trips (~160 ms measured at sf0.1) on EVERY
#: DataFrame construction; a real deployment serves schemas from a
#: metastore catalog and touches no files at plan time. This memo is
#: the same idea at file level — METADATA only (never rows, never
#: results), invalidated by the path's mtime stamp, so a rewritten
#: fixture or index re-infers. r17, guide §5 (the driver should do
#: almost no data work) / §6.
_SCHEMA_MEMO: dict[str, tuple] = {}


def _path_stamp(path: str):
    """Cheap staleness stamp: mtime of the path plus, for directories,
    the mtime of the newest entry (a rewrite replaces files)."""
    import os

    st = os.stat(path)
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    entries = os.listdir(path)
    newest = max(
        (os.stat(os.path.join(path, e)).st_mtime_ns for e in entries),
        default=0,
    )
    return (st.st_mtime_ns, len(entries), newest)


def read_parquet_known(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the schema served from the memo when
    the path is unchanged — skips per-build footer inference. First
    read (or any mtime change) infers and records."""
    import os

    key = os.path.abspath(path)
    try:
        stamp = _path_stamp(path)
    except OSError:
        return spark.read.parquet(path)  # let Spark raise its own error
    hit = _SCHEMA_MEMO.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_MEMO[key] = (stamp, df.schema)
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table with schema normalization.

    Two generations of the fixture writer exist: ``events.ts`` as
    parquet TIMESTAMP(NANOS) — which Spark's vectorized reader rejects
    (PARQUET_TYPE_ILLEGAL), so we read nanos as long via the legacy
    conf and truncate to microseconds — and as micro-precision with
    isAdjustedToUTC=false, which Spark infers as TIMESTAMP_NTZ. NTZ
    breaks event-time operations (withWatermark, unix_micros require
    TIMESTAMP), so any NTZ column is normalized to TIMESTAMP at the
    read edge; under the UTC session timezone the cast is wall-clock
    identity, preserving DuckDB oracle parity (oracles CAST ts to
    TIMESTAMP either way).
    """
    if name == "events" and _events_has_nanos_ts(f"{sf_dir}/{name}.parquet"):
        # the legacy conf is a SESSION-level switch; only flip it when
        # the footer really carries TIMESTAMP(NANOS) (early-round
        # fixtures) — on micro-precision fixtures an unconditional set
        # would silently make every later nanos parquet read in the
        # session decode as bigint with no ts-fixup. Once set it must
        # STAY set for this df's execution, which is why it is not
        # restored here.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet_known(spark, f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = read_parquet_known(spark, f"{sf_dir}/{name}.parquet")
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


#: Fixture tables materialized by the driver (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Sidecar facts Spark's catalog cannot hold: primary keys, FK edges,
#: human descriptions, and generation-steering constraints (mirrors the
#: reference's ``constraints`` block, ``sample_metadata.py:76-80``).
SIDECAR: dict[str, dict[str, Any]] = {
    "region": {"pk": ["r_regionkey"], "fk": {}, "description": "geographic regions"},
    "nation": {
        "pk": ["n_nationkey"],
        "fk": {"n_regionkey": ("region", "r_regionkey")},
        "description": "nations, one region each",
    },
    "customer": {
        "pk": ["c_custkey"],
        "fk": {"c_nationkey": ("nation", "n_nationkey")},
        "description": "customers with market segment",
    },
    "supplier": {
        "pk": ["s_suppkey"],
        "fk": {"s_nationkey": ("nation", "n_nationkey")},
        "description": "suppliers",
    },
    "part": {"pk": ["p_partkey"], "fk": {}, "description": "parts catalog"},
    "orders": {
        "pk": ["o_orderkey"],
        "fk": {"o_custkey": ("customer", "c_custkey")},
        "description": "order headers",
    },
    "lineitem": {
        "pk": ["l_orderkey", "l_linenumber"],
        "fk": {
            "l_orderkey": ("orders", "o_orderkey"),
            "l_partkey": ("part", "p_partkey"),
            "l_suppkey": ("supplier", "s_suppkey"),
        },
        "description": "order line items (fact table)",
    },
    "events": {
        "pk": ["event_id"],
        "fk": {},
        "description": "timestamped user event stream; props is a JSON string",
    },
    "documents": {
        "pk": ["doc_id"],
        "fk": {},
        "description": "text corpus with lang/source labels",
    },
    "embeddings": {
        "pk": ["vec_id"],
        "fk": {},
        "description": "dense float vectors aligned with documents.doc_id",
    },
}


@dataclass
class Catalog:
    """Registers fixture Parquet as named views and serves the metadata
    document. One instance per (session, data dir); the schema walk is
    cached like the reference's metadata cache (``db_connector.py:96-97``)."""

    spark: SparkSession
    sf_dir: str
    constraints: dict[str, Any] = field(
        default_factory=lambda: {
            "soft_delete_rule": None,
            "valid_status_values": {"orders.o_orderstatus": ["O", "F", "P"]},
            "mandatory_filters": [],
        }
    )
    #: P5 engine-side enforcement (SURVEY §7.3 item 2): per-table
    #: predicates auto-ANDed onto every scan of the flagged table. The
    #: reference only *prompts* the LLM to include these
    #: (sample_metadata.py:76-80); here the view layer enforces them, so
    #: even hand-written SQL cannot bypass a soft-delete rule. Pure
    #: pre-flight rewrite — no JVM extension needed, and Catalyst pushes
    #: the injected Filter into the parquet scan.
    table_filters: dict[str, list[str]] = field(default_factory=dict)
    #: Holds the metadata document under ``"doc"``. A copy made with
    #: ``dataclasses.replace`` (the front door's, on its own session)
    #: shares this holder, so one schema walk serves both catalogs and
    #: an invalidation reaches both.
    _metadata_cache: dict[str, Any] = field(default_factory=dict, repr=False)

    def path(self, name: str) -> str:
        return f"{self.sf_dir}/{name}.parquet"

    def table(self, name: str) -> DataFrame:
        # mandatory filters apply on EVERY access path (P5): the ETL
        # executor's extract/join/erase steps read through here, and a
        # soft-delete rule that only guarded the SQL views would be
        # bypassable by any DataFrame consumer
        df = read_table(self.spark, self.sf_dir, name)
        for pred in self.table_filters.get(name, []):
            df = df.filter(F.expr(pred))
        return df

    def register_views(self, tables: tuple[str, ...] = TABLES) -> None:
        for name in tables:
            self.table(name).createOrReplaceTempView(name)

    # -- metadata document ------------------------------------------------
    def metadata_document(self) -> dict[str, Any]:
        """Build the reference-shaped metadata document from Spark schemas.

        Shape parity with ``db_connector.py:155-167``: ``{db_type,
        db_version, schema_summary: {tables, relationships}, constraints}``.
        """
        if "doc" in self._metadata_cache:
            return self._metadata_cache["doc"]

        tables = []
        relationships: list[str] = []
        for name in TABLES:
            side = SIDECAR.get(name, {"pk": [], "fk": {}, "description": ""})
            schema = self.table(name).schema
            columns = []
            for f in schema.fields:
                col: dict[str, Any] = {
                    "column_name": f.name,
                    "data_type": f.dataType.simpleString(),
                    "nullable": f.nullable,
                    "description": "",
                    "primary_key": f.name in side["pk"],
                }
                if f.name in side["fk"]:
                    ref_table, ref_col = side["fk"][f.name]
                    col["foreign_key"] = {"ref_table": ref_table, "ref_column": ref_col}
                    relationships.append(f"{name}.{f.name} → {ref_table}.{ref_col}")
                columns.append(col)
            tables.append(
                {"table_name": name, "description": side["description"], "columns": columns}
            )

        doc = {
            "db_type": "spark",
            "db_version": self.spark.version,
            "schema_summary": {"tables": tables, "relationships": relationships},
            "constraints": self.constraints,
        }
        self._metadata_cache["doc"] = doc
        return doc

    def invalidate(self) -> None:
        """Drop the cached document (reference resets on reconnect/DDL,
        ``db_connector.py:55,88``)."""
        self._metadata_cache.clear()
