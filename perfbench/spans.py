"""Spans and counters for the benchmark's traced runs.

A traced pass installs wrappers, from this file, around the public
functions of each engine layer (api, generation, plans.safety,
plans.limits, engine, catalog, etl, sources.mutations, sources.txlog)
and around ``SparkSession.sql``, ``DataFrame.collect`` and the
``DataFrameWriter`` calls. Each wrapper records a span: name, start,
end, parent span, operation id and the py4j round trips made inside it.
Coarse spans also record the Spark jobs started inside them. Spans stay
in memory until the run ends. An untraced pass runs with no wrapper
installed, so the end-to-end numbers carry no tracing cost.

Counter sources:
- py4j round trips: a wrapper on ``ClientServerConnection.send_command``
  (commands that release Java objects for Python's GC are not counted);
- jobs: the highest job id in the driver's status store, read after the
  listener bus drains (counts jobs started from any thread);
- stage metrics and executed plans: ``statusStore().lastStageAttempt``
  and the SQL status store, read once per traced pass.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import re
import sys
import time

PACKAGE = "etl_generator_demo_spark"

#: Physical operators that hand rows to Python workers.
PYTHON_NODES = re.compile(
    r"\b(MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas"
    r"|FlatMapCoGroupsInPandas|FlatMapGroupsInArrow|AggregateInPandas|WindowInPandas"
    r"|PythonMapInArrow)\b"
)

#: Layer of each span name; self time is reported per layer.
LAYER = {
    "op": "harness",
    "api.request": "api",
    "api.generate_sql": "generation",
    "engine.execute": "engine",
    "engine.scalarize": "engine",
    "safety.validate": "safety",
    "limits.auto_limit": "limits",
    "spark.sql": "analyze",
    "df.collect": "collect",
    "catalog.read_table": "catalog",
    "catalog.read_parquet": "catalog",
    "catalog.metadata": "catalog",
    "ops.build": "ops_build",
    "ops.collect": "ops_collect",
    "etl.run": "etl",
    "io.write": "storage",
    "mutations.merge": "mutations",
    "txlog.commit": "txlog",
    "txlog.read": "txlog",
}
LAYERS = sorted(set(LAYER.values()))


class NullTracer:
    """Stand-in for untraced passes: every span is a no-op."""

    def span(self, name, jobs=False):
        return contextlib.nullcontext()


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self._jvm_sc = spark.sparkContext._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self.counts = {"memo_reads": 0, "memo_hits": 0}
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._py4j = 0
        self._counting = True
        self._op = None
        self._patches: list[tuple[object, str, object]] = []

    # -- counters ---------------------------------------------------------
    @contextlib.contextmanager
    def _uncounted(self):
        self._counting = False
        try:
            yield
        finally:
            self._counting = True

    def max_job_id(self) -> int:
        with self._uncounted():
            self._jvm_sc.listenerBus().waitUntilEmpty()
            jobs = self._jvm_sc.statusStore().jobsList(None)  # newest first
            return jobs.apply(0).jobId() if jobs.size() else -1

    def max_execution_id(self) -> int:
        with self._uncounted():
            ex = self._sql_store.executionsList()  # oldest first
            n = ex.size()
            return ex.apply(n - 1).executionId() if n else -1

    def exec_metrics(self, job_mark: int, exec_mark: int) -> dict:
        """Stage and plan totals for every job after ``job_mark`` and
        every SQL execution after ``exec_mark``."""
        from py4j.protocol import Py4JJavaError

        out = dict.fromkeys(
            ("jobs", "stages", "task_s", "shuffle_read_mb", "shuffle_write_mb",
             "spill_mb", "gc_s", "python_nodes"), 0.0)
        with self._uncounted():
            self._jvm_sc.listenerBus().waitUntilEmpty()
            store = self._jvm_sc.statusStore()
            jobs = store.jobsList(None)
            stage_ids = set()
            for i in range(jobs.size()):
                job = jobs.apply(i)
                if job.jobId() <= job_mark:
                    break
                out["jobs"] += 1
                ids = job.stageIds()
                stage_ids.update(ids.apply(k) for k in range(ids.size()))
            for sid in stage_ids:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["task_s"] += st.executorRunTime() / 1e3
                out["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
                out["gc_s"] += st.jvmGcTime() / 1e3
            ex = self._sql_store.executionsList()
            for i in range(ex.size() - 1, -1, -1):
                e = ex.apply(i)
                if e.executionId() <= exec_mark:
                    break
                out["python_nodes"] += count_python_nodes(e.physicalPlanDescription())
        return out

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False):
        stack = self._stack
        rec = {"id": next(self._ids), "name": name, "parent": stack[-1] if stack else None,
               "op": self._op}
        j0 = self.max_job_id() if jobs else None
        p0 = self._py4j
        stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            rec["py4j"] = self._py4j - p0
            if jobs:
                rec["jobs"] = self.max_job_id() - j0
            self.spans.append(rec)

    @contextlib.contextmanager
    def operation(self, op_id: str, kind: str):
        """Root span of one benchmark operation; ``op_id`` tags every
        span opened inside it."""
        self._op = op_id
        with self.span("op", jobs=True) as rec:
            rec["kind"] = kind
            yield rec
        self._op = None

    # -- wrappers ---------------------------------------------------------
    def _wrapper(self, fn, name, jobs):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, jobs):
                return fn(*args, **kwargs)

        return traced

    def _patch(self, owner, attr, new):
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, new)

    def wrap_method(self, cls, attr, name, jobs=False):
        raw = cls.__dict__[attr]
        if isinstance(raw, classmethod):
            self._patch(cls, attr, classmethod(self._wrapper(raw.__func__, name, jobs)))
        else:
            self._patch(cls, attr, self._wrapper(raw, name, jobs))

    def wrap_function(self, fn, name, jobs=False):
        self.rebind(fn, self._wrapper(fn, name, jobs))

    def rebind(self, fn, new):
        """Replace ``fn`` with ``new`` in every loaded engine module that
        binds it (modules import these functions by name)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patch(mod, attr, new)

    def install(self):
        """Wrap every layer boundary; ``uninstall`` restores them."""
        import py4j.clientserver as cs
        from pyspark.sql import DataFrameWriter, SparkSession
        from pyspark.sql.classic.dataframe import DataFrame

        from etl_generator_demo_spark import api, catalog, engine, etl
        from etl_generator_demo_spark.plans import limits, safety
        from etl_generator_demo_spark.sources import mutations, txlog

        from py4j.protocol import MEMORY_COMMAND_NAME

        tracer = self
        send = cs.ClientServerConnection.send_command

        @functools.wraps(send)
        def counted_send(conn, command):
            # Python's GC releases Java objects with memory commands at
            # times of its own choosing; they would make counts unrepeatable
            if tracer._counting and not command.startswith(MEMORY_COMMAND_NAME):
                tracer._py4j += 1
            return send(conn, command)

        self._patch(cs.ClientServerConnection, "send_command", counted_send)

        for attr in ("execute_endpoint", "metadata_endpoint", "samples_endpoint"):
            self.wrap_function(getattr(api, attr), "api.request")
        self.wrap_function(api.generate_sql_endpoint, "api.generate_sql")
        self.wrap_method(engine.ExecutionEngine, "execute", "engine.execute", jobs=True)
        self.wrap_function(engine.scalarize, "engine.scalarize")
        self.wrap_function(safety.validate_sql_safety, "safety.validate")
        self.wrap_function(limits.apply_auto_limit, "limits.auto_limit")
        self.wrap_method(SparkSession, "sql", "spark.sql")
        self.wrap_method(DataFrame, "collect", "df.collect")
        for attr in ("parquet", "csv", "json", "orc", "save"):
            self.wrap_method(DataFrameWriter, attr, "io.write", jobs=True)
        self.wrap_function(catalog.read_table, "catalog.read_table")
        self.wrap_method(catalog.Catalog, "metadata_document", "catalog.metadata")
        self.wrap_method(etl.ETLPipelineExecutor, "run", "etl.run", jobs=True)
        self.wrap_function(mutations.merge_parquet, "mutations.merge", jobs=True)
        for attr in ("create", "append", "overwrite", "update", "delete", "merge"):
            self.wrap_method(txlog.TxTable, attr, "txlog.commit")
        self.wrap_method(txlog.TxTable, "read", "txlog.read")

        memo = catalog._SCHEMA_MEMO
        read_known = catalog.read_parquet_known

        @functools.wraps(read_known)
        def read_parquet_known(spark, path):
            before = memo.get(os.path.abspath(path))
            with tracer.span("catalog.read_parquet"):
                df = read_known(spark, path)
            tracer.counts["memo_reads"] += 1
            if before is not None and memo.get(os.path.abspath(path)) is before:
                tracer.counts["memo_hits"] += 1
            return df

        self.rebind(read_known, read_parquet_known)

    def uninstall(self):
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def count_python_nodes(plan: str) -> int:
    """Python-worker operators in the executed tree of one plan text.
    Only the tree is read (not the per-node details after it), and for
    an adaptive plan only its current/final plan."""
    tree = plan.split("\n\n", 1)[0]
    tree = tree.split("== Initial Plan ==", 1)[0]
    return len(PYTHON_NODES.findall(tree))


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer: each span's duration minus the durations of
    its child spans."""
    by_id = {s["id"]: s for s in spans}
    out = dict.fromkeys(LAYERS, 0.0)
    for s in spans:
        out[LAYER[s["name"]]] += s["end"] - s["start"]
        if s["parent"] is not None:
            out[LAYER[by_id[s["parent"]]["name"]]] -= s["end"] - s["start"]
    return out
