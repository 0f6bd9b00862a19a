"""Per-layer metrics of a traced run.

Layers are named after the engine's modules. Time metrics are span totals
from the benchmark's own spans; job/stage/task and executor figures come
from the Spark event log, attributed to ops through job groups named
``<workload>:<op>:<pass>:build|exec``. Unless named otherwise, a metric is
the mean per steady pass; set-up metrics are one-time totals.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

import measure

# name -> unit, in the order BENCHMARK.json lists them
UNITS = {
    "session.get_session_s": "s",
    "session.load_table_s": "s",
    "session.load_table_calls": "count",
    "benchqueries.build_s": "s",
    "benchqueries.build_jobs": "count",
    "benchqueries.exec_s": "s",
    "benchqueries.exec_jobs": "count",
    "benchqueries.exec_stages": "count",
    "benchqueries.exec_tasks": "count",
    "llm.queries.build_s": "s",
    "llm.queries.build_jobs": "count",
    "llm.queries.exec_s": "s",
    "llm.queries.exec_jobs": "count",
    "llm.queries.exec_stages": "count",
    "llm.queries.exec_tasks": "count",
    "shared.build_s": "s",
    "shared.builds": "count",
    "executor.run_ms": "ms",
    "executor.cpu_ms": "ms",
    "executor.gc_ms": "ms",
    "executor.deser_ms": "ms",
    "executor.cpu_per_core_wall": "ratio",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "python.stages": "count",
    "python.stage_run_ms": "ms",
    "tasks.failed": "count",
    "steps.run_steps_s": "s",
    "pipeline.read_s": "s",
    "catalog.open_s": "s",
    "catalog.rehydrate_s": "s",
    "catalog.to_yaml_s": "s",
    "catalog.search_s": "s",
    "catalog.materialize_miss_s": "s",
    "catalog.materialize_hit_s": "s",
    "readers.read_s": "s",
    "readers.read_jobs": "count",
    "readers.recommend_s": "s",
    "datatypes.recommend_s": "s",
    "convert.auto_pipeline_s": "s",
    "datatypes.corpus_catalog_s": "s",
    "datatypes.triage_jobs": "count",
    "datatypes.sniffed_ratio": "ratio",
    "datatypes.top1_accuracy": "ratio",
    "output.write_s": "s",
    "output.bytes_written_per_input_byte": "ratio",
    "host.steal_pct": "%",
    "host.wall_per_cpu": "ratio",
    "trace.overhead_s": "s",
}

# spans whose total per steady pass is the metric <span>_s
SPAN_METRICS = (
    "session.load_table", "benchqueries.build", "benchqueries.exec",
    "llm.queries.build", "llm.queries.exec", "steps.run_steps", "pipeline.read",
    "catalog.open", "catalog.rehydrate", "catalog.to_yaml", "catalog.search",
    "catalog.materialize_miss", "catalog.materialize_hit", "readers.read",
    "readers.recommend", "datatypes.recommend", "convert.auto_pipeline",
    "datatypes.corpus_catalog", "output.write",
)


def _groups(wl, ops, work: str):
    """Event-log counters summed over steady passes, keyed by
    (op layer, op name, phase); plus the all-op total."""
    layer_of = {op.name: op.layer for op in ops}
    steady = range(1, 1 + wl.passes)
    by = defaultdict(lambda: defaultdict(float))
    total = defaultdict(float)
    for gid, c in measure.fold_event_log(os.path.join(work, "eventlog")).items():
        parts = gid.split(":")
        if len(parts) < 4 or parts[-1] not in ("build", "exec"):
            continue
        op, p, phase = ":".join(parts[1:-2]), parts[-2], parts[-1]
        if not p.isdigit() or int(p) not in steady or op not in layer_of:
            continue
        for k, v in c.items():
            by[(layer_of[op], op, phase)][k] += v
            total[k] += v
    return by, total


def _sum(by, key: str, layer=None, op=None, phase=None) -> float:
    return sum(c.get(key, 0.0) for (lay, o, ph), c in by.items()
               if (layer is None or lay == layer) and (op is None or o == op)
               and (phase is None or ph == phase))


def per_layer(wl, ops, tracer, work, pass_wall, host, facts) -> dict:
    n = wl.passes
    steady = tracer.totals(lambda p: p is not None and 1 <= p <= n)
    setup = tracer.totals(lambda p: p is None)
    m = {k: 0.0 for k in UNITS}
    for span in SPAN_METRICS:
        m[span + "_s"] = steady.get(span, (0.0, 0))[0] / n
    m["session.load_table_calls"] = steady.get("session.load_table", (0.0, 0))[1] / n
    # set-up work that the catalog-backed tabular ops rely on
    for span in ("catalog.open", "catalog.to_yaml"):
        if m[span + "_s"] == 0.0 and span in setup:
            m[span + "_s"] = setup[span][0]
    m["session.get_session_s"] = setup.get("session.get_session", (0.0, 0))[0]
    m["shared.build_s"], m["shared.builds"] = setup.get("shared.build", (0.0, 0))

    by, total = _groups(wl, ops, work)
    for layer in ("benchqueries", "llm.queries"):
        m[f"{layer}.build_jobs"] = _sum(by, "jobs", layer, phase="build") / n
        for k in ("jobs", "stages", "tasks"):
            m[f"{layer}.exec_{k}"] = _sum(by, k, layer, phase="exec") / n
    m["readers.read_jobs"] = _sum(by, "jobs", "readers") / n
    m["datatypes.triage_jobs"] = _sum(by, "jobs", op="corpus_catalog") / n
    for k in ("run_ms", "cpu_ms", "gc_ms", "deser_ms"):
        m[f"executor.{k}"] = total[k] / n
    steady_wall_ms = 1000 * sum(pass_wall[1:1 + n])
    m["executor.cpu_per_core_wall"] = total["cpu_ms"] / (steady_wall_ms * host["cores"])
    m["shuffle.read_bytes"] = total["shuffle_read_bytes"] / n
    m["shuffle.write_bytes"] = total["shuffle_write_bytes"] / n
    m["python.stages"] = total["python_stages"] / n
    m["python.stage_run_ms"] = total["python_run_ms"] / n
    m["tasks.failed"] = total["tasks_failed"] / n

    det = getattr(wl, "detections", None)
    if det and det["total"]:
        m["datatypes.top1_accuracy"] = det["right"] / det["total"]
    if getattr(wl, "input_bytes", 0):
        m["output.bytes_written_per_input_byte"] = wl.written_bytes / wl.input_bytes
    m["datatypes.sniffed_ratio"] = facts.get("sniffed_ratio", 0.0)
    m["host.steal_pct"] = host["steal_pct"]
    m["host.wall_per_cpu"] = host["wall_per_cpu"]
    m["trace.overhead_s"] = statistics.median(pass_wall[1:1 + n]) - pass_wall[1 + n]
    return {k: (v, UNITS[k]) for k, v in m.items()}
