"""Per-layer metrics: names, units, and which end-to-end metric each
should move.

Layers are the package's modules. The workloads open a span named
``<layer>.<call>`` around every call into a layer (``delta.scan`` also
has child spans ``.plan`` — the ``read_delta`` call — and ``.exec`` —
the action on its result), and one ``op.<kind>`` root span per op.
A layer that a workload does not exercise reports 0.
"""

from __future__ import annotations

from perfbench.trace import Joined

# (name, unit, end-to-end metric it should move, on which workload)
LAKE_P50 = "op_p50_ms on lake"
LAKE_WALL = "wall_s on lake"
PIPE_WALL = "wall_s on llm_pipeline"

LAYERS = [
    "delta.snapshot", "delta.scan", "sql.dispatcher", "delta.writer",
    "delta.ops", "delta.mv_join", "operators.dedup", "operators.text",
    "operators.similarity", "perfbench",
]

METRICS: list[tuple[str, str, str]] = [
    ("delta.snapshot.load_ms", "ms", LAKE_P50),
    ("delta.snapshot.tail_commits", "count", LAKE_P50),
    ("delta.snapshot.replay_ms", "ms", LAKE_P50),
    ("delta.snapshot.replay_jobs", "count", LAKE_P50),
    ("delta.scan.plan_ms", "ms", LAKE_P50),
    ("delta.scan.exec_ms", "ms", LAKE_P50),
    ("delta.scan.jobs", "count", LAKE_P50),
    ("delta.scan.files_kept_ratio", "ratio", LAKE_P50),
    ("sql.dispatcher.ms", "ms", LAKE_P50),
    ("sql.dispatcher.jobs", "count", LAKE_P50),
    ("delta.writer.append_ms", "ms", LAKE_WALL),
    ("delta.writer.append_jobs", "count", LAKE_WALL),
    ("delta.writer.bytes_per_row", "B/row", LAKE_WALL),
]
for _op in ("merge", "update", "delete", "optimize"):
    METRICS += [
        (f"delta.ops.{_op}_ms", "ms", "wall_s, op_p50_ms on lake"),
        (f"delta.ops.{_op}_jobs", "count", "wall_s, op_p50_ms on lake"),
    ]
METRICS += [
    ("delta.ops.files_rewritten", "count", "wall_s, op_p50_ms on lake"),
    ("delta.mv_join.refresh_ms", "ms", LAKE_WALL),
    ("delta.mv_join.refresh_jobs", "count", LAKE_WALL),
]
for _op in ("exact", "minhash", "simhash", "ngram"):
    METRICS += [
        (f"operators.dedup.{_op}_ms", "ms", PIPE_WALL),
        (f"operators.dedup.{_op}_jobs", "count", PIPE_WALL),
    ]
METRICS += [
    ("operators.dedup.minhash_candidates_per_pair", "ratio", PIPE_WALL),
    ("operators.text.quality_ms", "ms", PIPE_WALL),
    ("operators.text.quality_jobs", "count", PIPE_WALL),
    ("operators.similarity.lsh_ms", "ms", PIPE_WALL),
    ("operators.similarity.lsh_jobs", "count", PIPE_WALL),
    ("operators.similarity.ivf_ms", "ms", PIPE_WALL),
    ("operators.similarity.ivf_jobs", "count", PIPE_WALL),
    ("spark.jobs", "count", "wall_s on every workload"),
    ("spark.stages", "count", "wall_s on every workload"),
    ("spark.tasks", "count", "wall_s on every workload"),
    ("spark.driver_only_ms", "ms", LAKE_P50),
    ("spark.executor_run_ms", "ms", PIPE_WALL),
    ("spark.executor_cpu_ms", "ms", PIPE_WALL),
    ("spark.shuffle_bytes", "B", PIPE_WALL),
    ("spark.result_bytes", "B", PIPE_WALL),
    ("spark.persisted_rdds", "count", "wall_s on every workload"),
]
METRICS += [(f"{layer}.self_ms", "ms", "wall_s on every workload")
            for layer in LAYERS]
METRICS += [
    ("trace.overhead_s", "s", "none: traced wall_s minus untraced wall_s"),
]

# Span-duration and span-job metrics: metric name -> span name.
_SPAN_MS = {
    "delta.snapshot.load_ms": "delta.snapshot.load",
    "delta.snapshot.replay_ms": "delta.snapshot.replay",
    "delta.scan.plan_ms": "delta.scan.plan",
    "delta.scan.exec_ms": "delta.scan.exec",
    "sql.dispatcher.ms": "sql.dispatcher",
    "delta.writer.append_ms": "delta.writer.append",
    "delta.mv_join.refresh_ms": "delta.mv_join.refresh",
}
_SPAN_JOBS = {
    "delta.snapshot.replay_jobs": "delta.snapshot.replay",
    "delta.scan.jobs": "delta.scan",
    "sql.dispatcher.jobs": "sql.dispatcher",
    "delta.writer.append_jobs": "delta.writer.append",
    "delta.mv_join.refresh_jobs": "delta.mv_join.refresh",
}
for _layer, _ops in (("delta.ops", ("merge", "update", "delete", "optimize")),
                     ("operators.dedup", ("exact", "minhash", "simhash", "ngram")),
                     ("operators.text", ("quality",)),
                     ("operators.similarity", ("lsh", "ivf"))):
    for _op in _ops:
        _SPAN_MS[f"{_layer}.{_op}_ms"] = f"{_layer}.{_op}"
        _SPAN_JOBS[f"{_layer}.{_op}_jobs"] = f"{_layer}.{_op}"

# Counters recorded by the workloads (mean over the traced ops).
_COUNTERS = [
    "delta.snapshot.tail_commits", "delta.scan.files_kept_ratio",
    "delta.writer.bytes_per_row", "delta.ops.files_rewritten",
    "operators.dedup.minhash_candidates_per_pair",
]


def layer_of(span_name: str) -> str:
    if span_name.startswith("op."):
        return "perfbench"
    return ".".join(span_name.split(".")[:2])


def compute(j: Joined, overhead_s: float) -> dict[str, tuple[float, str]]:
    units = {name: unit for name, unit, _ in METRICS}
    out: dict[str, float] = {}
    for name, span in _SPAN_MS.items():
        out[name] = j.median_ms(span)
    for name, span in _SPAN_JOBS.items():
        out[name] = j.median_jobs(span)
    for name in _COUNTERS:
        out[name] = j.counter_mean(name)
    ops = [s for s in j.spans if s.parent is None]
    totals = [j.stage_totals(s) for s in ops]
    out["spark.jobs"] = sum(len(j.jobs(s)) for s in ops)
    for attr in ("stages", "tasks", "executor_run_ms", "executor_cpu_ms",
                 "shuffle_bytes", "result_bytes"):
        out[f"spark.{attr}"] = sum(getattr(t, attr) for t in totals)
    out["spark.driver_only_ms"] = sum(j.driver_only_ms(s) for s in ops)
    out["spark.persisted_rdds"] = max(j.counters.get("spark.persisted_rdds", [0]))
    for layer in LAYERS:
        out[f"{layer}.self_ms"] = sum(
            j.self_ms(s) for s in j.spans if layer_of(s.name) == layer)
    out["trace.overhead_s"] = overhead_s
    return {name: (float(out[name]), units[name]) for name, _, _ in METRICS}

