"""The benchmark's metric schema: unit, better-direction and layer map.

``END_TO_END`` is what a user of the engine sees and what ``--trace 0``
reports; ``PER_LAYER`` is what ``--trace 1`` reports. Each per-layer
group names the end-to-end metric and the workloads it should move.
``BENCHMARK.json`` at the repository root must list exactly these.
"""

from __future__ import annotations

import math
import statistics

from perfbench.workloads import WORKLOADS

# name: (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "wall_s": ("s", "lower", 0.25),
    "query_p50_s": ("s", "lower", 0.25),
    "query_p90_s": ("s", "lower", 0.25),
    "flagship_docs_per_s": ("docs/s", "higher", 0.25),
}

# group: (moves, on workloads, metrics {name: (unit, better)})
LAYERS = {
    "session": (
        "wall_s",
        ("feature_job",),
        {
            "session.build_s": ("s", "lower"),
            "session.warmup_s": ("s", "lower"),
            "session.shuffle_partitions": ("count", "lower"),
        },
    ),
    "registry": (
        "wall_s, query_p50_s",
        ("registry", "feature_job"),
        {
            "registry.construct_s": ("s", "lower"),
            "registry.plan_s": ("s", "lower"),
            "registry.build_jobs": ("count", "lower"),
            "registry.build_jobs_s": ("s", "lower"),
        },
    ),
    "exec": (
        "wall_s",
        tuple(WORKLOADS),
        {
            "exec.s": ("s", "lower"),
            "exec.driver_s": ("s", "lower"),
            "exec.jobs": ("count", "lower"),
            "exec.stages": ("count", "lower"),
            "exec.tasks": ("count", "lower"),
            "exec.task_run_s": ("s", "lower"),
            "exec.gc_s": ("s", "lower"),
            "exec.shuffle_read_bytes": ("bytes", "lower"),
            "exec.shuffle_write_bytes": ("bytes", "lower"),
            "exec.spill_bytes": ("bytes", "lower"),
        },
    ),
    "flagship": (
        "flagship_docs_per_s, wall_s",
        ("doc_ladder",),
        {
            "corpus.tokens_s": ("s", "lower"),
            "annotate.self_s": ("s", "lower"),
            "lexicons.self_s": ("s", "lower"),
            "pipeline.sentence_self_s": ("s", "lower"),
            "pipeline.doc_self_s": ("s", "lower"),
        },
    ),
    "python": (
        "wall_s",
        ("doc_ladder", "registry"),
        {
            "python.total_s": ("s", "lower"),
            "python.boot_s": ("s", "lower"),
            "python.init_s": ("s", "lower"),
            "python.bytes_sent": ("bytes", "lower"),
            "python.bytes_received": ("bytes", "lower"),
        },
    ),
    "dedup": (
        "wall_s",
        ("feature_job", "registry"),
        {
            "dedup.exec_s": ("s", "lower"),
            "dedup.shuffle_write_bytes": ("bytes", "lower"),
        },
    ),
    "write": (
        "wall_s",
        ("feature_job",),
        {
            "write.s": ("s", "lower"),
            "write.files": ("count", "lower"),
            "write.bytes": ("bytes", "lower"),
            "output_bytes": ("bytes", "lower"),
        },
    ),
    "memory": (
        "wall_s through GC pressure; peak_rss_mb itself varies too much between"
        " runs (VmHWM follows the G1 heap's growth) to carry a bound",
        ("registry", "feature_job"),
        {
            "peak_rss_mb": ("MB", "lower"),
            "cache.leaked_rdds": ("count", "lower"),
        },
    ),
    "checks": (
        "every end-to-end metric (a failed query is not timed)",
        tuple(WORKLOADS),
        {"failed_ratio": ("ratio", "lower")},
    ),
    "trace": (
        "nothing: tracing must stay cheap",
        tuple(WORKLOADS),
        {
            "trace.overhead_s": ("s", "lower"),
            "trace.extra_jobs": ("count", "lower"),
            "trace.untagged_jobs": ("count", "lower"),
            "trace.span_cover_min": ("ratio", "higher"),
        },
    ),
}

PER_LAYER = {name: spec for _, _, group in LAYERS.values() for name, spec in group.items()}


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, ``0 <= q <= 1``."""
    xs = sorted(values)
    if not xs:
        return math.nan
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan


def metric_block(values: dict[str, float], schema: dict) -> dict[str, dict]:
    """``{name: {"value": v, "unit": u}}`` for every metric in ``schema``.

    A value that could not be measured, because every execution it needs
    failed, is ``None``: JSON has no NaN.
    """
    missing = set(schema) - set(values)
    if missing:
        raise KeyError(f"metrics not measured: {sorted(missing)}")
    return {
        name: {"value": values[name] if math.isfinite(values[name]) else None, "unit": schema[name][0]}
        for name in schema
    }


def benchmark_spec() -> dict:
    """The ``BENCHMARK.json`` document this schema implies."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 22,
        "workloads": [{"name": w.name, "why": w.why} for w in WORKLOADS.values()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, (u, b) in PER_LAYER.items()],
    }


if __name__ == "__main__":
    import json

    print(json.dumps(benchmark_spec(), indent=2))
