"""From pass records and event logs to the benchmark's metrics.

A query execution has three spans taken around public calls: construct
(``QUERIES[name]``), plan (``queryExecution().executedPlan()``) and exec
(the action). The bench records the Spark job-id range of each span, so
every job in the event log belongs to exactly one query phase even when
a query launches it from a worker thread that does not inherit the job
tag; the tag is cross-checked (``trace.untagged_jobs``).
"""

from __future__ import annotations

import math
import os
import time

from perfbench import eventlog
from perfbench.metrics import median, quantile
from perfbench.workloads import DEDUP_QUERIES, FLAGSHIP

PHASES = ("build", "plan", "exec")
# ROADMAP item 1: a layer row's parts sum to within 10% of wall time
MIN_SPAN_COVER = 0.9


def end_to_end(passes: list[dict], setups: list[dict], input_info: dict) -> dict:
    """Each query's median over its untraced timed executions; ``wall_s``
    sums them over the workload's queries, and the query percentiles are
    taken over them."""
    per_query: dict[str, list[float]] = {}
    for p in passes:
        for r in p["queries"]:
            if not p["traced"] and "error" not in r:
                per_query.setdefault(r["query"], []).append(r["wall_s"])
    typical = {name: median(v) for name, v in per_query.items()}
    return {
        "setup_s": median([s["build_s"] + s["warmup_s"] for s in setups]),
        "wall_s": sum(typical.values()) if typical else math.nan,
        "query_p50_s": quantile(list(typical.values()), 0.5),
        "query_p90_s": quantile(list(typical.values()), 0.9),
        "flagship_docs_per_s": input_info["documents"]["rows"] / typical.get(FLAGSHIP, math.nan),
    }


def _union_s(jobs: list[dict]) -> float:
    """Wall time covered by the jobs' [submit, end] intervals."""
    spans = sorted((j["submit_ms"], j["submit_ms"] + j["duration_s"] * 1000) for j in jobs)
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in spans:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000


def _phase_jobs(row: dict, jobs: dict[int, dict]) -> dict[str, list[dict]]:
    ids = row["job_ids"]
    return {
        phase: [jobs[j] | {"id": j} for j in range(ids[i], ids[i + 1]) if j in jobs]
        for i, phase in enumerate(PHASES[: len(ids) - 1])
    }


def _sum(jobs: list[dict], field: str) -> float:
    return sum(j[field] for j in jobs)


def pass_layers(p: dict, jobs: dict[int, dict]) -> dict:
    """Per-layer sums over one traced pass; also annotates each query row."""
    out = dict.fromkeys(
        (
            "registry.construct_s registry.plan_s registry.build_jobs registry.build_jobs_s"
            " exec.s exec.driver_s exec.jobs exec.stages exec.tasks exec.task_run_s exec.gc_s"
            " exec.shuffle_read_bytes exec.shuffle_write_bytes exec.spill_bytes"
            " python.total_s python.boot_s python.init_s python.bytes_sent python.bytes_received"
            " dedup.exec_s dedup.shuffle_write_bytes write.s write.files write.bytes"
            " cache.leaked_rdds trace.untagged_jobs"
        ).split(),
        0.0,
    )
    for row in p["queries"]:
        if "error" in row:
            continue
        by_phase = _phase_jobs(row, jobs)
        before = by_phase["build"] + by_phase["plan"]
        execj = by_phase["exec"]
        every = before + execj
        build_jobs_s, exec_jobs_s = _union_s(before), _union_s(execj)
        row["layers"] = {
            "build_jobs": len(before),
            "build_jobs_s": build_jobs_s,
            "exec_jobs": len(execj),
            "exec_jobs_s": exec_jobs_s,
            "stages": _sum(execj, "stages"),
            "tasks": _sum(execj, "tasks"),
            "shuffle_write_bytes": _sum(every, "shuffle_write_bytes"),
        }
        out["registry.construct_s"] += row["construct_s"]
        out["registry.plan_s"] += row["plan_s"]
        out["registry.build_jobs"] += len(before)
        out["registry.build_jobs_s"] += build_jobs_s
        out["exec.s"] += exec_jobs_s
        out["exec.driver_s"] += row["exec_s"] - exec_jobs_s
        out["exec.jobs"] += len(execj)
        for key in ("stages", "tasks", "task_run_s", "gc_s", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes"):
            out[f"exec.{key}"] += _sum(execj, key)
        for key in ("total_s", "boot_s", "init_s", "bytes_sent", "bytes_received"):
            out[f"python.{key}"] += _sum(every, f"python_{key}")
        out["write.s"] += _sum(every, "write_task_s")
        out["write.files"] += _sum(every, "write_files")
        out["write.bytes"] += _sum(every, "write_bytes")
        if row["query"] in DEDUP_QUERIES:
            out["dedup.exec_s"] += row["exec_s"]
            out["dedup.shuffle_write_bytes"] += _sum(every, "shuffle_write_bytes")
        out["cache.leaked_rdds"] += row["leaked_rdds"]
        for phase, js in by_phase.items():
            out["trace.untagged_jobs"] += sum(1 for j in js if j["group"] != f"{row['query']}:{phase}")
    return out


def per_layer(passes, setups, eventlog_dir, prefixes, shuffle_partitions) -> dict:
    logs = {}
    traced = [p for p in passes if p["traced"]]
    per_pass = []
    for p in traced:
        if p["app"] not in logs:
            logs[p["app"]] = eventlog.parse(eventlog.read_events(os.path.join(eventlog_dir, p["app"])))
        per_pass.append(pass_layers(p, logs[p["app"]]))
    values = {k: median([d[k] for d in per_pass]) for k in per_pass[0]}

    plain = [p for p in passes if not p["traced"]]
    values["trace.overhead_s"] = median([p["wall_s"] for p in traced]) - median(
        [p["wall_s"] for p in plain]
    )
    values["trace.extra_jobs"] = _extra_jobs(plain[-1], traced[-1])
    # construct and plan are driver spans, exec is the event log's wall
    # time of the action's jobs: measured apart from the query's wall time,
    # so driver work outside every span shows as a low cover
    values["trace.span_cover_min"] = min((
        (r["construct_s"] + r["plan_s"] + r["layers"]["exec_jobs_s"]) / r["wall_s"]
        for p in traced
        for r in p["queries"]
        if "error" not in r
    ), default=math.nan)
    values["session.build_s"] = median([s["build_s"] for s in setups])
    values["session.warmup_s"] = median([s["warmup_s"] for s in setups])
    values["session.shuffle_partitions"] = shuffle_partitions
    for key in ("corpus.tokens_s", "annotate.self_s", "lexicons.self_s",
                "pipeline.sentence_self_s", "pipeline.doc_self_s"):
        values[key] = prefixes.get(key, 0.0)
    return values


def trace_problems(values: dict) -> list[str]:
    """Tracing must not change what the engine runs: a traced run whose
    tagged executions launch other Spark jobs than untagged ones is not a
    measurement of the same program."""
    if values["trace.extra_jobs"] != 0:
        return [f"tagging changed the job count by {values['trace.extra_jobs']}"]
    return []


def _extra_jobs(plain: dict, traced: dict) -> int:
    """Jobs the tagged execution of each query ran beyond the untagged one."""
    def count(p):
        return {r["query"]: r["job_ids"][-1] - r["job_ids"][0] for r in p["queries"]}

    a, b = count(plain), count(traced)
    return sum(abs(b[q] - a[q]) for q in a if q in b)


def flagship_prefixes(spark, data_dir: str, set_phase) -> dict[str, float]:
    """Self time of each layer of the flagship ladder, as differences
    between ``noop`` timings of its cumulative prefixes."""
    from tscan_spark import annotate, corpus, pipeline

    steps = (
        ("corpus.tokens_s", lambda: corpus.tokens_long(corpus.load(spark, data_dir, "documents"))),
        ("annotate.self_s", lambda: annotate.annotate(
            corpus.tokens_long(corpus.load(spark, data_dir, "documents")))),
        ("lexicons.self_s", lambda: pipeline.word_features(spark, data_dir)),
        ("pipeline.sentence_self_s", lambda: pipeline.sentence_features(spark, data_dir)),
        ("pipeline.doc_self_s", lambda: pipeline.doc_features(spark, data_dir)),
    )
    out, prev = {}, 0.0
    for key, build in steps:
        set_phase(spark, f"prefix:{key}")
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        total = time.perf_counter() - t0
        set_phase(spark, None)
        out[key] = total - prev
        prev = total
    return out
