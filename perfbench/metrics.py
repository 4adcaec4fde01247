"""Metric names and units, and the per-layer fold of a traced run.

A layer name is the engine module and function it times. Per-call values
are medians over the calls of the run. A traced run calls every layer on
every workload (see ``workloads.layer_tour``).
"""

from __future__ import annotations

import statistics

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "items_per_s": "1/s",
    "index_bytes_per_text_byte": "ratio",
}

# Values the workload measures itself (microbenchmarks, directory sizes).
_DIRECT = {
    "analysis.analyze_batch.us_per_turn": "us",
    "index.codec.encode_ns_per_posting": "ns",
    "index.codec.decode_ns_per_posting": "ns",
    "index.build.bytes_written.postings": "bytes",
    "index.build.bytes_written.docs": "bytes",
    "index.build.bytes_written.seg_norms": "bytes",
    "index.build.bytes_written.term_stats": "bytes",
    "search.kernels.score_segment_wand.ms_per_query_seg": "ms",
    "search.kernels.score_segment_exact.ms_per_query_seg": "ms",
}

# Traced layer → the per-call statistics reported for it.
_TRACED = {
    "index.build.build_index_presorted":
        ("wall_s", "cpu_s", "executor_cpu_s", "jobs", "tasks"),
    "index.updates.refresh_stats": ("wall_s", "jobs"),
    "index.build.append_batch": ("wall_s", "jobs"),
    "index.updates.update_docs": ("wall_s", "jobs"),
    "index.merge.merge_segments":
        ("wall_s", "cpu_s", "executor_cpu_s", "jobs", "shuffle_bytes"),
    "search.searcher.open": ("wall_s",),
    "search.searcher.compile": ("ms_per_query", "jobs_per_query"),
    "search.searcher.search": ("ms_per_query", "jobs_per_query", "stages_per_query",
                               "tasks_per_query", "executor_cpu_ms_per_query"),
    "search.searcher.hits": ("ms_per_query",),
    "search.searcher.search_many": ("wall_s", "jobs", "tasks", "executor_cpu_s"),
}

_STAT_UNIT = {
    "wall_s": "s", "cpu_s": "s", "executor_cpu_s": "s", "jobs": "count",
    "tasks": "count", "shuffle_bytes": "bytes", "ms_per_query": "ms",
    "jobs_per_query": "count", "stages_per_query": "count",
    "tasks_per_query": "count", "executor_cpu_ms_per_query": "ms",
}

PER_LAYER = dict(_DIRECT)
for _layer, _stats in _TRACED.items():
    for _stat in _stats:
        PER_LAYER[f"{_layer}.{_stat}"] = _STAT_UNIT[_stat]


def _per_call(call, stat: str, events: dict) -> float:
    ev = [events.get(g, {}) for g in call.groups]
    executor_cpu_s = sum(e.get("executor_cpu_s", 0.0) for e in ev)
    return {
        "wall_s": call.wall_s, "ms_per_query": call.wall_s * 1e3, "cpu_s": call.cpu_s,
        "jobs": call.jobs, "jobs_per_query": call.jobs, "stages_per_query": call.stages,
        "tasks": call.tasks, "tasks_per_query": call.tasks,
        "executor_cpu_s": executor_cpu_s, "executor_cpu_ms_per_query": executor_cpu_s * 1e3,
        "shuffle_bytes": sum(e.get("shuffle_write_bytes", 0.0) for e in ev),
    }[stat]


def layer_values(tracer, direct: dict, events: dict) -> dict[str, float]:
    """Every per-layer metric: the workload's direct values, then per-call
    medians of the traced layers (job-group event-log sums folded in)."""
    out = {name: float(direct.get(name, 0.0)) for name in _DIRECT}
    for layer, stats in _TRACED.items():
        calls = tracer.of(layer)
        for stat in stats:
            out[f"{layer}.{stat}"] = (
                float(statistics.median(_per_call(c, stat, events) for c in calls))
                if calls else 0.0
            )
    return out
