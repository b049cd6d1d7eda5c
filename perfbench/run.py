"""Layered benchmark of the engine: one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run generates its fixture tables from
the seed, computes every expected output with DuckDB, sets the engine
up several times (import + ``registry.load_all``, ``session.get_spark``,
catalog views, workload fixtures), runs the workload's warm-up passes
and then runs passes for ``--seconds`` seconds with one closed-loop
client. Every operation's output is checked.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics
(``perfbench/spans.py``), writing the spans to
``.perfbench_out/spans-<workload>-<seed>.json``. The last line of
stdout is the result object; the line before it holds the run context.
The exit code is 0 only when every operation passed its check and the
source tree is unchanged.

Everything the run writes goes to a fresh directory under
``.perfbench_tmp/`` (Spark local dirs, the JVM's and Python's temp
files, the tables the ETL workload writes), removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import types

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_generator_demo_spark"
SETUP_REPS = 3
#: Directories a run may create or that other tools own; everything
#: else under the root must be byte-identical after the run.
UNTRACKED = {".git", "__pycache__", ".perfbench_tmp", ".perfbench_out", ".index_cache",
             "spark-warehouse", "metastore_db", ".pytest_cache", ".hypothesis", "derby.log"}

def tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = sorted(d for d in dirs if d not in UNTRACKED)
        for f in sorted(f for f in files if f not in UNTRACKED):
            path = os.path.join(dirpath, f)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def confine(work: str) -> None:
    """Point every temp-file writer of this process and its children
    (Spark, the JVM, Python workers, ``tempfile``) into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    conf = "SPARK_GRAFT_SPARKCONF_"
    os.environ[conf + "spark_sql_warehouse_dir"] = os.path.join(work, "warehouse")
    os.environ[conf + "spark_ui_showConsoleProgress"] = "false"


def fresh_modules():
    """Import the engine from scratch (so each set-up repetition pays
    for it) and return the modules the workloads use."""
    for name in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
        del sys.modules[name]
    t0 = time.perf_counter()
    from etl_generator_demo_spark.registry import load_all

    registry = load_all()
    load_s = time.perf_counter() - t0
    from etl_generator_demo_spark import api, catalog, engine, etl, session
    from etl_generator_demo_spark.operators import textops
    from etl_generator_demo_spark.sources import txlog

    return types.SimpleNamespace(
        registry=registry, api=api, catalog=catalog, engine=engine, etl=etl, txlog=txlog,
        session=session, tables=catalog.TABLES, scalarize=engine.scalarize,
        quality_oracle=textops._quality_and_lang_oracle(), canon=_canon(),
    ), load_s


def _canon():
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        from oracle_check import canon
    finally:
        sys.path[:] = saved  # the tool edits sys.path on import
    return canon


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def percentile(values: list[float], p: float) -> float:
    v = sorted(values)
    pos = (len(v) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


class Run:
    def __init__(self, workload, seed: int, seconds: float, trace: bool, work: str):
        import numpy as np

        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.passes: list[dict] = []
        self.errors: list[str] = []
        self.attempted = 0
        self.spark = None
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.context: dict = {}

    # -- set-up -------------------------------------------------------------
    def prepare(self) -> None:
        import duckdb
        from datagen import write_fixtures

        self.fixtures = os.path.join(self.work, "fixtures")
        counts = write_fixtures(self.fixtures, self.wl.sf, self.seed)
        mods, _ = fresh_modules()
        con = duckdb.connect()
        try:
            for name in counts:
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                            f"read_parquet('{self.fixtures}/{name}.parquet')")
            self.wl.plan(self.rng, con, mods, counts)
        finally:
            con.close()
        self.context["fixture_rows"] = counts

    def setup(self) -> None:
        from workloads import Context
        from spans import NullTracer

        reps = []
        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            mods, load_s = fresh_modules()
            t1 = time.perf_counter()
            spark = mods.session.get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            t2 = time.perf_counter()
            self.spark = spark
            self.ctx = Context(spark, mods, self.fixtures, self.work,
                               mods.catalog.Catalog(spark, self.fixtures), NullTracer())
            self.wl.setup(self.ctx)
            reps.append({"total": time.perf_counter() - t0, "import": t1 - t0,
                         "load_all": load_s, "session": t2 - t1})
        self.setup_reps = reps

    # -- passes ---------------------------------------------------------------
    def run_pass(self, traced: bool, timed: bool) -> dict:
        ctx = self.ctx
        self.wl.reset(ctx)
        ops = self.wl.ops(ctx, self.rng)
        rec = {"traced": traced, "timed": timed, "lat": [], "names": [], "failed": 0, "blocked": 0}
        if traced:
            tracer = self.tracer
            ctx.tracer = tracer
            n_spans = len(tracer.spans)
            tracer.install()
            job_mark, exec_mark = tracer.max_job_id(), tracer.max_execution_id()
        for i, op in enumerate(ops):
            err, res = None, None
            t0 = time.perf_counter()
            try:
                if traced:
                    with tracer.operation(f"p{len(self.passes)}.{i}", op.kind) as span:
                        span["label"] = op.name
                        res = op.run()
                else:
                    res = op.run()
            except Exception as exc:  # an operation failure is a measured outcome
                err = f"{op.name}: {type(exc).__name__}: {str(exc)[:300]}"
            dt = time.perf_counter() - t0
            if err is None:
                try:
                    err = op.check(res)
                except Exception as exc:
                    err = f"{op.name}: check raised {type(exc).__name__}: {exc}"
            self.attempted += 1
            if err is not None:
                rec["failed"] += 1
                self.errors.append(err)
                print(f"perfbench: FAIL {err}", file=sys.stderr)
            rec["lat"].append(dt)
            rec["names"].append(op.name)
            rec["blocked"] += isinstance(res, dict) and res.get("is_blocked") is True
        rec["op_s"] = sum(rec["lat"])
        if traced:
            tracer.uninstall()
            ctx.tracer = self.null_tracer
            rec["spans"] = tracer.spans[n_spans:]
            rec["exec"] = tracer.exec_metrics(job_mark, exec_mark)
            rec["layer"] = self.wl.after_pass(ctx)
        self.passes.append(rec)
        return rec

    def measure(self) -> None:
        from spans import NullTracer, Tracer

        self.null_tracer = NullTracer()
        if self.trace:
            self.tracer = Tracer(self.spark)
        for _ in range(self.wl.warmup_passes):  # JIT and worker start-up
            self.run_pass(traced=False, timed=False)
        t_first_op = time.perf_counter()
        self.context["first_timed_op_at_s"] = t_first_op - T_PROCESS
        deadline = t_first_op + self.seconds
        i = 0
        while True:
            # untraced, traced, traced, untraced, ...: a traced run ends
            # only on a whole cycle, so a slow drift in pass time weighs on
            # traced and untraced passes alike
            traced = self.trace and i % 4 in (1, 2)
            self.run_pass(traced=traced, timed=True)
            i += 1
            if time.perf_counter() >= deadline and (not self.trace or i % 4 == 0):
                break

    # -- results --------------------------------------------------------------
    def record_passes(self) -> None:
        by_op: dict[str, list[float]] = {}
        for p in self.passes:
            for name, dt in zip(p["names"], p["lat"]):
                by_op.setdefault(name, []).append(round(dt * 1e3, 1))
        self.context["op_ms"] = by_op
        self.context["pass_s"] = [
            [round(p["op_s"], 3), "timed" if p["timed"] else "warm-up", "traced" if p["traced"] else "plain"]
            for p in self.passes]
        self.context["peak_rss_mb"] = self.peak_rss_mb()

    def e2e_metrics(self) -> dict:
        plain = [p for p in self.passes if p["timed"] and not p["traced"]]
        lat_ms = [x * 1e3 for p in plain for x in p["lat"]]
        self.context["latency_samples"] = len(lat_ms)
        self.context["timed_passes"] = len(plain)
        return {
            "setup_s": (statistics.median(r["total"] for r in self.setup_reps), "s"),
            "pass_s": (statistics.median(p["op_s"] for p in plain), "s"),
            "latency_p50_ms": (percentile(lat_ms, 50), "ms"),
            "latency_p90_ms": (percentile(lat_ms, 90), "ms"),
        }

    def peak_rss_mb(self) -> dict[str, float]:
        from pyspark import SparkContext

        return {"python": vm_hwm_mb(os.getpid()), "jvm": vm_hwm_mb(SparkContext._gateway.proc.pid)}

    def layer_metrics(self) -> dict:
        from layers import per_layer, write_spans

        out_dir = os.path.join(ROOT, ".perfbench_out")
        write_spans(self, os.path.join(out_dir, f"spans-{self.wl.name}-{self.seed}.json"))
        return per_layer(self)

    def context_fields(self) -> None:
        import bench  # its calibration task, read with bench.py unchanged

        self.context.update(
            nproc=os.cpu_count(),
            cpus_available=len(os.sched_getaffinity(0)),
            SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS"),
            spark_version=self.spark.version,
            calibration_rep_s=bench._calibration_rep(self.spark),
            setup_reps=self.setup_reps,
        )

    def record_context(self, when: str) -> None:
        self.context[f"loadavg_{when}"] = [round(x, 2) for x in os.getloadavg()]

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "registry.py")):
        print(f"perfbench: the engine package {PACKAGE}/ is not under {ROOT}", file=sys.stderr)
        return 2

    before = tree_digest(ROOT)
    scratch_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch_root)
    confine(work)
    run = Run(WORKLOADS[args.workload](), args.seed, args.seconds, bool(args.trace), work)
    try:
        run.record_context("start")
        run.prepare()
        run.context["prepared_at_s"] = time.perf_counter() - T_PROCESS
        run.setup()
        run.context["set_up_at_s"] = time.perf_counter() - T_PROCESS
        run.measure()
        run.record_context("end")
        run.record_passes()
        metrics = run.layer_metrics() if args.trace else run.e2e_metrics()
        run.context_fields()
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(scratch_root):
            os.rmdir(scratch_root)
    if tree_digest(ROOT) != before:
        run.errors.append("the source tree changed during the run")
        print("perfbench: FAIL the source tree changed during the run", file=sys.stderr)
    failed = sum(p["failed"] for p in run.passes)
    correct = not run.errors
    run.context["error_rate"] = failed / max(run.attempted, 1)
    print(json.dumps({"context": run.context}))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
