"""Per-layer metrics of a traced run, computed from its spans.

Every metric is reported on every workload (0 where the workload does
not reach the layer). Unless the name says otherwise a value is per
traced pass; ``*_ms`` values of the front-door layers are per operation
(per request on ``frontdoor_sql``).
"""

from __future__ import annotations

import json
import os
import statistics

from spans import LAYERS, self_times
from workloads import Pipelines

OPS_FIELDS = (("build_s", "s"), ("build_jobs", "count"), ("build_py4j_calls", "count"),
              ("collect_s", "s"), ("collect_jobs", "count"))
EXEC_FIELDS = (("jobs", "count"), ("stages", "count"), ("task_s", "s"),
               ("busy_ratio", "ratio"), ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
               ("spill_mb", "MB"), ("gc_s", "s"), ("python_nodes", "count"))
STORAGE_FIELDS = (("bytes_written", "bytes"), ("files", "count"), ("bytes_per_row", "bytes"),
                  ("staging_leftovers", "count"))

#: name -> unit, in output order.
METRICS: dict[str, str] = {
    "session.start_s": "s",
    "registry.load_all_s": "s",
    "memory.peak_rss_mb": "MB",
    "safety.validate_ms": "ms",
    "safety.blocked": "count",
    "limits.auto_limit_ms": "ms",
    "engine.analyze_ms": "ms",
    "engine.scalarize_ms": "ms",
    "engine.collect_ms": "ms",
    "engine.py4j_calls": "count",
    "engine.jobs": "count",
    "api.generate_sql_ms": "ms",
    "catalog.read_table_ms": "ms",
    "catalog.schema_memo_hit_ratio": "ratio",
    "catalog.metadata_ms": "ms",
    **{f"ops.{f}": u for f, u in OPS_FIELDS},
    **{f"ops.{q}.{f}": u for q in Pipelines.queries for f, u in OPS_FIELDS},
    **{f"exec.{f}": u for f, u in EXEC_FIELDS},
    "etl.run_s": "s",
    "etl.write_s": "s",
    "etl.eager_jobs": "count",
    "mutations.merge_s": "s",
    "txlog.commit_s": "s",
    "txlog.read_s": "s",
    **{f"storage.{f}": u for f, u in STORAGE_FIELDS},
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.overhead_ratio": "ratio",
    "trace.op_coverage": "ratio",
    "trace.engine_share": "ratio",
    "trace.spans": "count",
}


def _dur(s) -> float:
    return s["end"] - s["start"]


def per_layer(run) -> dict[str, tuple[float, str]]:
    traced = [p for p in run.passes if p["timed"] and p["traced"]]
    plain = [p for p in run.passes if p["timed"] and not p["traced"]]
    n_pass = len(traced)
    spans = [s for p in traced for s in p["spans"]]
    by_id = {s["id"]: s for s in spans}
    ops = [s for s in spans if s["name"] == "op"]
    n_ops = len(ops)
    label = {s["op"]: s["label"] for s in ops}

    def under(s, name) -> bool:
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] == name:
                return True
            p = by_id[p]["parent"]
        return False

    def named(name, within=None):
        return [s for s in spans if s["name"] == name and (within is None or under(s, within))]

    def total(name, within=None, key=None) -> float:
        return sum(key(s) if key else _dur(s) for s in named(name, within))

    m = dict.fromkeys(METRICS, 0.0)
    reps = run.setup_reps
    m["session.start_s"] = statistics.median(r["session"] for r in reps)
    m["registry.load_all_s"] = statistics.median(r["load_all"] for r in reps)
    m["memory.peak_rss_mb"] = sum(run.context["peak_rss_mb"].values())

    per_op = max(n_ops, 1)
    m["safety.validate_ms"] = total("safety.validate") * 1e3 / per_op
    m["safety.blocked"] = sum(p["blocked"] for p in traced) / n_pass
    m["limits.auto_limit_ms"] = total("limits.auto_limit") * 1e3 / per_op
    m["engine.analyze_ms"] = total("spark.sql", "engine.execute") * 1e3 / per_op
    m["engine.scalarize_ms"] = total("engine.scalarize") * 1e3 / per_op
    m["engine.collect_ms"] = total("df.collect", "engine.execute") * 1e3 / per_op
    m["engine.py4j_calls"] = total("engine.execute", key=lambda s: s["py4j"]) / per_op
    m["engine.jobs"] = total("engine.execute", key=lambda s: s["jobs"]) / per_op
    gen = named("api.generate_sql")
    m["api.generate_sql_ms"] = sum(map(_dur, gen)) * 1e3 / len(gen) if gen else 0.0

    m["catalog.read_table_ms"] = total("catalog.read_table") * 1e3 / n_pass
    reads = run.tracer.counts["memo_reads"]
    m["catalog.schema_memo_hit_ratio"] = run.tracer.counts["memo_hits"] / reads if reads else 0.0
    m["catalog.metadata_ms"] = total("catalog.metadata") * 1e3 / n_pass

    for kind, key in (("build", "ops.build"), ("collect", "ops.collect")):
        for s in named(key):
            vals = {f"{kind}_s": _dur(s), f"{kind}_jobs": s["jobs"]}
            if kind == "build":
                vals["build_py4j_calls"] = s["py4j"]
            for f, v in vals.items():
                m[f"ops.{f}"] += v / n_pass
                m[f"ops.{label[s['op']]}.{f}"] += v / n_pass

    for p in traced:
        e = dict(p["exec"])
        e["busy_ratio"] = e["task_s"] / (run.cpus * p["op_s"])
        for f, _ in EXEC_FIELDS:
            m[f"exec.{f}"] += e[f] / n_pass
        for f, _ in STORAGE_FIELDS:
            m[f"storage.{f}"] += p["layer"].get(f"storage.{f}", 0.0) / n_pass

    m["etl.run_s"] = total("etl.run") / n_pass
    m["etl.write_s"] = total("io.write", "etl.run") / n_pass
    m["etl.eager_jobs"] = (total("etl.run", key=lambda s: s["jobs"])
                           - total("io.write", "etl.run", key=lambda s: s["jobs"])) / n_pass
    m["mutations.merge_s"] = total("mutations.merge") / n_pass
    m["txlog.commit_s"] = total("txlog.commit") / n_pass
    m["txlog.read_s"] = total("txlog.read") / n_pass

    selfs = self_times(spans)
    for layer, v in selfs.items():
        m[f"self.{layer}_s"] = v / n_pass
    m["trace.overhead_ratio"] = (statistics.median(p["op_s"] for p in traced)
                                 / statistics.median(p["op_s"] for p in plain))
    m["trace.op_coverage"] = 1.0 - selfs["harness"] / sum(map(_dur, ops))
    calls_engine = {s["op"] for s in named("engine.execute")}
    engine_ops = sum(_dur(s) for s in ops if s["op"] in calls_engine)
    m["trace.engine_share"] = total("engine.execute") / engine_ops if engine_ops else 0.0
    m["trace.spans"] = len(spans) / n_pass
    return {k: (v, METRICS[k]) for k, v in m.items()}


def write_spans(run, path: str) -> None:
    """All spans of the traced passes, with per-pass markers."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    out = [{"pass": i, "exec": p["exec"], "spans": p["spans"]}
           for i, p in enumerate(run.passes) if p["traced"]]
    with open(path, "w") as fh:
        json.dump({"workload": run.wl.name, "seed": run.seed, "passes": out}, fh)
