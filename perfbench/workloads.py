"""The benchmark's two workloads.

Each workload turns the seed into a fixed list of operations, computes
every expected output with DuckDB before Spark starts, and then hands
the harness one pass at a time. An operation is a closed-loop call into
the engine's public surface (``api`` endpoints, registry query
functions, ``ETLPipelineExecutor.run``, ``ExecutionEngine.execute``)
plus an output check that runs outside the timed region. Why each
workload exists and what it should and should not move is written down
in ``perfbench/README.md``.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import pandas as pd


@dataclass
class Op:
    name: str  # operation label: query name, request class, spec target
    kind: str  # request class or operation type
    run: Callable[[], Any]  # timed
    check: Callable[[Any], str | None]  # untimed; returns a failure message


@dataclass
class Context:
    """What a pass needs from the current engine session."""

    spark: Any
    mods: Any  # namespace of freshly imported engine modules
    fixtures: str  # read-only generated tables
    work: str  # this run's scratch directory
    catalog: Any
    tracer: Any
    state: dict = field(default_factory=dict)


def _digest(canon_form) -> str:
    return hashlib.sha256(repr(canon_form).encode()).hexdigest()


class Workload:
    name = ""
    #: Fixture scale (lineitem = 6M x sf rows).
    sf = 0.005
    #: Untimed passes before timing starts. The first pass pays class
    #: loading, code generation and Python worker start-up; the JIT then
    #: keeps shortening passes for a few more (``perfbench/README.md``).
    warmup_passes = 3

    def plan(self, rng, con, mods, counts: dict[str, int]) -> None:
        """Seeded inputs and their expected outputs; ``con`` is a DuckDB
        connection with a view per fixture table. No Spark runs here."""

    def setup(self, ctx: Context) -> None:
        """Engine objects for this session; timed as part of setup_s."""
        ctx.catalog.register_views()
        ctx.catalog.metadata_document()

    def reset(self, ctx: Context) -> None:
        """Untimed: restore whatever the previous pass wrote."""

    def ops(self, ctx: Context, rng) -> list[Op]:
        raise NotImplementedError

    def after_pass(self, ctx: Context) -> dict:
        """Untimed per-pass measurements (layer metrics, storage)."""
        return {}


# ---------------------------------------------------------------------------
# frontdoor_sql: a designed mix of the reference service's request classes
# ---------------------------------------------------------------------------
#: One block of requests; a pass is one block, shuffled by the seed. Every
#: block holds each template of each class once (each join twice), so all
#: passes do the same work and differ only in literals. The proportions
#: are designed, not taken from traffic: they put the median inside the
#: aggregation class and the 90th percentile inside the join class, away
#: from class boundaries.
BLOCK = (
    ["lookup"] * 4
    + ["aggregation"] * 4
    + ["grouping"] * 4
    + ["join2", "join3", "join4"] * 2
    + ["refusal", "malformed", "generate", "metadata", "samples"]
)
N_BLOCKS = 3
LIMIT = 10


def _day(rng) -> str:
    return str(pd.Timestamp("1995-01-01") + pd.Timedelta(days=int(rng.integers(0, 1800))))[:10]


#: Seeded literals pick WHICH rows a request touches, never how many:
#: every predicate has the same selectivity for every seed (a fixed-width
#: date range, a residue class, one of k equally likely values), so the
#: work per pass does not depend on the seed.
def _select_sql(kind: str, pick: int, rng, counts) -> str:
    n_cust, n_ord, n_part = counts["customer"], counts["orders"], counts["part"]
    d1 = _day(rng)
    r = int(rng.integers(0, 4))
    if kind == "lookup":
        return [
            f"SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer "
            f"WHERE c_custkey = {rng.integers(0, n_cust)}",
            f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM orders "
            f"WHERE o_orderkey = {rng.integers(0, n_ord)}",
            f"SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem "
            f"WHERE l_orderkey = {rng.integers(0, n_ord)} "
            f"ORDER BY l_linenumber, l_quantity, l_extendedprice",
            f"SELECT p_partkey, p_name, p_brand, p_retailprice FROM part "
            f"WHERE p_partkey = {rng.integers(0, n_part)}",
        ][pick]
    if kind == "aggregation":
        return [
            f"SELECT COUNT(*) AS n, ROUND(SUM(l_extendedprice), 2) AS gross, "
            f"ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS net FROM lineitem "
            f"WHERE l_shipdate >= TIMESTAMP '{d1}' AND l_shipdate < TIMESTAMP '{d1}' "
            f"+ INTERVAL 365 DAY AND l_linenumber = {r + 1}",
            f"SELECT COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total FROM orders "
            f"WHERE o_orderdate >= TIMESTAMP '{d1}' AND o_orderdate < TIMESTAMP '{d1}' "
            f"+ INTERVAL 365 DAY AND o_orderpriority = '{['1-URGENT', '2-HIGH', '3-MEDIUM', '5-LOW'][r]}'",
            f"SELECT COUNT(*) AS n, ROUND(SUM(value), 2) AS total, MAX(value) AS top FROM events "
            f"WHERE event_type = '{['click', 'view', 'error', 'purchase'][r]}' AND user_id % 3 = {r % 3}",
            f"SELECT COUNT(*) AS n, ROUND(SUM(c_acctbal), 2) AS bal FROM customer "
            f"WHERE c_nationkey % 5 = {r}",
        ][pick]
    if kind == "grouping":
        return [
            f"SELECT c_mktsegment, COUNT(*) AS n, ROUND(SUM(c_acctbal), 2) AS bal FROM customer "
            f"WHERE c_nationkey % 4 = {r} GROUP BY c_mktsegment ORDER BY c_mktsegment",
            f"SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty "
            f"FROM lineitem WHERE l_discount BETWEEN {r / 100} AND {(r + 5) / 100} "
            f"GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
            f"SELECT o_orderpriority, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total "
            f"FROM orders WHERE o_orderstatus = '{'FOP'[r % 3]}' "
            f"GROUP BY o_orderpriority ORDER BY o_orderpriority",
            f"SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total FROM events "
            f"WHERE user_id % 4 = {r} GROUP BY event_type ORDER BY event_type",
        ][pick]
    if kind == "join2":
        return (
            "SELECT c.c_mktsegment, COUNT(*) AS n, ROUND(SUM(o.o_totalprice), 2) AS total "
            "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
            f"WHERE o.o_orderstatus = '{'FOP'[r % 3]}' AND o.o_orderdate >= TIMESTAMP '{d1}' "
            f"AND o.o_orderdate < TIMESTAMP '{d1}' + INTERVAL 730 DAY "
            "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"
        )
    if kind == "join3":
        return (
            "SELECT n.n_name, COUNT(*) AS n_orders, ROUND(SUM(o.o_totalprice), 2) AS total "
            "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            f"WHERE o.o_orderpriority = '{['1-URGENT', '2-HIGH', '3-MEDIUM', '5-LOW'][r]}' "
            "GROUP BY n.n_name ORDER BY total DESC, n.n_name"
        )
    return (
        "SELECT n.n_name, COUNT(*) AS n_lines, "
        "ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        f"WHERE o.o_orderdate >= TIMESTAMP '{d1}' AND o.o_orderdate < TIMESTAMP '{d1}' "
        "+ INTERVAL 365 DAY "
        "GROUP BY n.n_name ORDER BY revenue DESC, n.n_name"
    )


_REFUSALS = (
    "DROP TABLE orders",
    "DELETE FROM orders WHERE o_orderkey = {k}",
    "INSERT INTO region VALUES ({k}, 'X')",
    "UPDATE customer SET c_acctbal = 0 WHERE c_custkey = {k}",
)
_QUESTIONS = (
    "show the top customers by account balance",
    "how many orders were placed per priority",
    "list suppliers in nation {k}",
    "total revenue by market segment",
)


def _rows_match(got_cols, got_rows, exp_cols, exp_rows) -> bool:
    if list(got_cols) != list(exp_cols) or len(got_rows) != len(exp_rows):
        return False
    for g, e in zip(got_rows, exp_rows):
        for c, ev in zip(exp_cols, e):
            gv = g[c]
            if isinstance(ev, float) or isinstance(gv, float):
                if gv is None or ev is None or not math.isclose(gv, ev, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif gv != ev:
                return False
    return True


class FrontdoorSQL(Workload):
    name = "frontdoor_sql"
    #: one rotation of the blocks: every timed request repeats SQL text
    #: the session has run once
    warmup_passes = N_BLOCKS

    def plan(self, rng, con, mods, counts):
        self.blocks = []
        self.n_tables = len(mods.tables)
        for b in range(N_BLOCKS):
            reqs = []
            seen: dict[str, int] = {}
            for kind in BLOCK:
                pick = seen[kind] = seen.get(kind, -1) + 1
                k = int(rng.integers(0, 100))
                if kind == "refusal":
                    reqs.append((kind, _REFUSALS[(b + k) % len(_REFUSALS)].format(k=k), None))
                elif kind == "malformed":
                    reqs.append((kind, f"SELECT c_custkey FROM customer WHERE (c_custkey = {k}", None))
                elif kind == "generate":
                    reqs.append((kind, _QUESTIONS[(b + k) % len(_QUESTIONS)].format(k=k % 25), None))
                elif kind in ("metadata", "samples"):
                    reqs.append((kind, None, None))
                else:
                    sql = _select_sql(kind, pick, rng, counts)
                    cur = con.execute(f"{sql} LIMIT {LIMIT}")
                    cols = [d[0] for d in cur.description]
                    rows = [tuple(mods.scalarize(v) for v in r) for r in cur.fetchall()]
                    reqs.append((kind, sql, (cols, rows)))
            self.blocks.append(reqs)
        self.pass_no = 0

    def setup(self, ctx):
        ctx.state["app"] = ctx.mods.api.AppState(ctx.spark, ctx.catalog)
        ctx.catalog.metadata_document()

    def ops(self, ctx, rng):
        block = self.blocks[self.pass_no % N_BLOCKS]
        self.pass_no += 1
        api, app = ctx.mods.api, ctx.state["app"]
        out = []
        for i in rng.permutation(len(block)):
            kind, text, expected = block[i]
            out.append(self._op(api, app, kind, text, expected))
        return out

    def _op(self, api, app, kind, text, expected) -> Op:
        if kind == "generate":
            return Op(kind, kind, lambda: api.generate_sql_endpoint(
                app, {"request": text, "provider": "demo"}), _check_generated)
        if kind == "metadata":
            n = self.n_tables
            return Op(kind, kind, lambda: api.metadata_endpoint(app), lambda r: None if len(
                r["schema_summary"]["tables"]) == n else "metadata: wrong table count")
        if kind == "samples":
            return Op(kind, kind, lambda: api.samples_endpoint(app), lambda r: None if len(
                r["samples"]) == 10 else "samples: expected 10 questions")

        def run():
            return api.execute_endpoint(app, {"sql": text, "limit": LIMIT})

        if kind == "refusal":
            def check(r):
                ok = r.get("is_blocked") is True and r["success"] is False and r.get("status_code") == 400
                return None if ok else f"refusal not blocked: {text!r}"
        elif kind == "malformed":
            def check(r):
                ok = r["success"] is False and not r.get("is_blocked") and r.get("error")
                return None if ok else f"malformed SQL did not return an error envelope: {text!r}"
        else:
            def check(r):
                if not r.get("success"):
                    return f"{kind} failed: {str(r.get('error'))[:200]}"
                if not _rows_match(r["columns"], r["rows"], *expected):
                    return f"{kind} rows differ from DuckDB: {text!r}"
                return None
        return Op(kind, kind, run, check)


def _check_generated(r) -> str | None:
    if r.get("is_blocked") or not isinstance(r.get("sql"), str) or not r["sql"].strip():
        return "generate_sql returned no SQL"
    return None


# ---------------------------------------------------------------------------
# pipelines: registry operators, then ETL writes through the same catalog
# ---------------------------------------------------------------------------
MERGE_TARGET = "dim_customer"
STAGING_PREFIXES = (".staging_", ".txstage_", ".commit_", ".ckpt_")  # mutations, txlog


def _tree_size(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
    return n_bytes, n_files


def _leftovers(path: str) -> int:
    n = 0
    for _, dirs, files in os.walk(path):
        n += sum(1 for e in dirs + files if e.startswith(STAGING_PREFIXES))
    return n


class Pipelines(Workload):
    name = "pipelines"
    #: BPE's builder runs driver-sequenced eager jobs (checkpoint + scalar
    #: fetch per merge step); near-dup's time is executor stages around an
    #: Arrow Python stage.
    queries = ("x4_bpe_merge_steps", "x3_neardup_lsh_bucketed")

    def plan(self, rng, con, mods, counts):
        # as on frontdoor_sql, literals choose rows, not how many
        r = int(rng.integers(0, 3))
        d = int(rng.integers(0, 6))
        lo, hi = d / 100, (d + 5) / 100
        self.spec_lines = {
            "extract": {"source_tables": ["lineitem"], "conditions": [f"l_orderkey % 3 <> {r}"]},
            "transform": {"steps": [
                {"op": "fill_nulls", "columns": {"l_returnflag": "N"}},
                {"op": "cast", "columns": {"l_quantity": "int"}},
                {"op": "filter", "condition": f"l_discount BETWEEN {lo} AND {hi}"},
                {"op": "derive", "column": "p_partkey", "expr": "l_partkey"},
                {"op": "join", "table": "part", "on": ["p_partkey"], "broadcast": True},
                {"op": "derive", "column": "net", "expr": "ROUND(l_extendedprice * (1 - l_discount), 2)"},
                {"op": "dedup", "columns": ["l_orderkey", "l_linenumber"]},
                {"op": "expect", "condition": "l_extendedprice > 0"},
            ]},
            "load": {"target_table": "li_clean", "write_mode": "overwrite",
                     "partition_by": ["l_returnflag"]},
        }
        n_lines = con.execute(
            "SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem "
            f"JOIN part ON l_partkey = p_partkey WHERE l_orderkey % 3 <> {r} "
            f"AND l_discount BETWEEN {lo} AND {hi})"
        ).fetchone()[0]

        quality = f"SELECT doc_id, quality FROM ({mods.quality_oracle})"
        score, min_chars = con.execute(
            f"SELECT QUANTILE_DISC(quality, 0.5), (SELECT QUANTILE_DISC(n_chars, 0.25) "
            f"FROM documents) FROM ({quality})"
        ).fetchone()
        self.spec_docs = {
            "extract": {"source_tables": ["documents"]},
            "transform": {"steps": [
                {"op": "quality_filter", "text_col": "text", "min_score": score},
                {"op": "redact_pii", "text_col": "text"},
                {"op": "filter", "condition": f"n_chars > {min_chars}"},
                {"op": "select", "columns": ["doc_id", "text", "lang", "source", "n_chars"]},
            ]},
            "load": {"target_table": "docs_clean", "write_mode": "append"},
        }
        n_docs = con.execute(
            f"SELECT COUNT(*) FROM documents JOIN ({quality}) q USING (doc_id) "
            f"WHERE q.quality >= {score} AND n_chars > {min_chars}"
        ).fetchone()[0]

        n_cust = counts["customer"]
        source = (
            f"SELECT c_custkey, c_name, c_nationkey, ROUND(c_acctbal + {rng.integers(1, 500)}, 2) "
            f"AS c_acctbal, c_mktsegment FROM customer WHERE c_custkey % 5 = {rng.integers(0, 5)} "
            f"UNION ALL SELECT c_custkey + {n_cust} AS c_custkey, c_name, c_nationkey, c_acctbal, "
            f"c_mktsegment FROM customer WHERE c_custkey % 8 = {rng.integers(0, 8)}"
        )
        self.merge_sql = (
            f"MERGE INTO {MERGE_TARGET} t USING ({source}) s ON t.c_custkey = s.c_custkey "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
        n_upd, n_ins = con.execute(
            f"SELECT COUNT(*) FILTER (WHERE c_custkey < {n_cust}), "
            f"COUNT(*) FILTER (WHERE c_custkey >= {n_cust}) FROM ({source})"
        ).fetchone()
        r = int(rng.integers(0, 3))
        self.tx_parts = (f"o_orderkey % 3 = {r}",
                         f"o_orderkey % 3 = {(r + 1) % 3} AND o_orderstatus = 'F'")
        n_tx = con.execute(
            f"SELECT COUNT(*) FROM orders WHERE ({self.tx_parts[0]}) OR ({self.tx_parts[1]})"
        ).fetchone()[0]
        self.expect = {"li_clean": n_lines, "docs_clean": n_docs,
                       "merge": (n_upd, n_ins), MERGE_TARGET: n_cust + n_ins, "txlog": n_tx}
        # registry queries are hash-compared with their DuckDB oracles, both
        # in the canonical form of ``tools/oracle_check.canon``
        self.digests = {q: _digest(mods.canon(con.execute(mods.registry[q].oracle).fetchdf()))
                        for q in self.queries}

    def _paths(self, ctx):
        return os.path.join(ctx.work, "etl_out"), os.path.join(ctx.work, "etl_db")

    def setup(self, ctx):
        super().setup(ctx)
        out_dir, db_dir = self._paths(ctx)
        cat_mod = ctx.mods.catalog
        ctx.state["db"] = db = cat_mod.Catalog(ctx.spark, db_dir)
        ctx.state["etl"] = ctx.mods.etl.ETLPipelineExecutor(ctx.spark, ctx.catalog, out_dir)
        ctx.state["writer"] = ctx.mods.engine.ExecutionEngine(ctx.spark, allow_writes=True, catalog=db)
        self.reset(ctx)

    def reset(self, ctx):
        out_dir, db_dir = self._paths(ctx)
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(db_dir, ignore_errors=True)
        os.makedirs(out_dir)
        os.makedirs(db_dir)
        shutil.copyfile(
            os.path.join(ctx.fixtures, "customer.parquet"), ctx.state["db"].path(MERGE_TARGET)
        )
        ctx.spark.catalog.refreshByPath(ctx.state["db"].path(MERGE_TARGET))
        ctx.state["db"].register_views((MERGE_TARGET,))

    def ops(self, ctx, rng):
        etl, writer = ctx.state["etl"], ctx.state["writer"]
        exp = self.expect

        def read_back(target):
            r = writer.execute(f"SELECT COUNT(*) AS n FROM {target}")
            return r.rows[0]["n"] if r.success else r.error

        def count_error(target, n):
            return None if n == exp[target] else f"{target}: read back {n} != DuckDB {exp[target]}"

        # A write counts as done once its result reads back, so each
        # write operation ends with a COUNT(*) through the write engine.
        def spec_op(spec):
            target = spec["load"]["target_table"]

            def check(res):
                r, n = res
                if r.rows_written != exp[target]:
                    return f"{target}: rows_written {r.rows_written} != DuckDB {exp[target]}"
                return count_error(target, n)

            return Op(target, "spec", lambda: (etl.run(spec), read_back(target)), check)

        def merge_check(res):
            r, n = res
            got = (r.rows[0]["n_updated"], r.rows[0]["n_inserted"]) if r.success else r.error
            if got != exp["merge"]:
                return f"MERGE counts {got} != DuckDB {exp['merge']}"
            return count_error(MERGE_TARGET, n)

        def query_op(q):
            def run():
                fn = ctx.mods.registry[q].fn
                with ctx.tracer.span("ops.build", jobs=True):
                    df = fn(ctx.spark, ctx.fixtures)
                with ctx.tracer.span("ops.collect", jobs=True):
                    rows = df.collect()
                return df.columns, rows

            def check(res):
                cols, rows = res
                got = ctx.mods.canon(pd.DataFrame.from_records([tuple(r) for r in rows], columns=cols))
                if _digest(got) != self.digests[q]:
                    return f"{q}: rows differ from the DuckDB oracle ({len(rows)} rows)"
                return None

            return Op(q, "query", run, check)

        def txlog_run():
            # an optimistic-commit table: create, one blind append, read back
            orders = ctx.catalog.table("orders")
            path = os.path.join(ctx.work, "etl_db", "orders_tx")
            tab = ctx.mods.txlog.TxTable.create(ctx.spark, path, orders.filter(self.tx_parts[0]))
            tab.append(orders.filter(self.tx_parts[1]))
            return tab.read().count()

        ops = [query_op(q) for q in self.queries] + [
            spec_op(self.spec_lines),
            spec_op(self.spec_docs),
            Op("merge", "merge",
               lambda: (writer.execute(self.merge_sql), read_back(MERGE_TARGET)), merge_check),
            Op("txlog", "txlog", txlog_run, lambda n: count_error("txlog", n)),
        ]
        return [ops[i] for i in rng.permutation(len(ops))]

    def after_pass(self, ctx):
        n_bytes, n_files = _tree_size(os.path.join(ctx.work, "etl_out"))
        db_bytes, db_files = _tree_size(os.path.join(ctx.work, "etl_db"))
        rows = sum(self.expect[t] for t in ("li_clean", "docs_clean", MERGE_TARGET, "txlog"))
        return {
            "storage.bytes_written": n_bytes + db_bytes,
            "storage.files": n_files + db_files,
            "storage.bytes_per_row": (n_bytes + db_bytes) / rows,
            "storage.staging_leftovers": _leftovers(ctx.work),
        }


WORKLOADS = {w.name: w for w in (FrontdoorSQL, Pipelines)}
