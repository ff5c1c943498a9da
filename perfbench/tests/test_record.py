"""The record schema: every metric has a unit and a better-direction,
and BENCHMARK.json lists exactly the metrics the benchmark reports."""

import json
import os
import re

import pytest

from perfbench import layers, metrics
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_every_metric_has_unit_and_direction():
    for name, (unit, better, bound) in metrics.END_TO_END.items():
        assert NAME.match(name) and UNIT.match(unit) and better in ("lower", "higher")
        assert 0 < bound <= 0.25
    for name, (unit, better) in metrics.PER_LAYER.items():
        assert NAME.match(name) and UNIT.match(unit) and better in ("lower", "higher")
    assert not set(metrics.END_TO_END) & set(metrics.PER_LAYER)


def test_setup_has_the_largest_bound():
    bounds = {n: b for n, (_, _, b) in metrics.END_TO_END.items()}
    assert metrics.END_TO_END["setup_s"][:2] == ("s", "lower")
    assert bounds["setup_s"] == max(bounds.values())


def test_layer_map_names_known_workloads_and_metrics():
    for moves, workloads, group in metrics.LAYERS.values():
        assert set(workloads) <= set(WORKLOADS) and group and moves


def test_benchmark_json_matches_schema():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec == metrics.benchmark_spec()
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])
    assert len(json.dumps(spec)) < 64 * 1024


def test_metric_block_reports_every_metric_with_its_unit():
    values = {name: 1.5 for name in metrics.END_TO_END}
    block = metrics.metric_block(values, metrics.END_TO_END)
    assert list(block) == list(metrics.END_TO_END)
    assert block["flagship_docs_per_s"] == {"value": 1.5, "unit": "docs/s"}
    values["wall_s"] = float("nan")
    assert metrics.metric_block(values, metrics.END_TO_END)["wall_s"]["value"] is None
    del values["wall_s"]
    with pytest.raises(KeyError):
        metrics.metric_block(values, metrics.END_TO_END)


def test_quantile_interpolates():
    assert metrics.quantile([4.0, 1.0, 3.0, 2.0], 0.5) == 2.5
    assert metrics.quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.9) == pytest.approx(4.6)
    assert metrics.quantile([7.0], 0.9) == 7.0


def test_every_workload_is_checked_and_has_its_inputs():
    from perfbench.inputs import BASE_DIR
    from perfbench.workloads import FLAGSHIP

    with open(os.path.join(ROOT, "perfbench", "reference.json")) as f:
        reference = json.load(f)
    assert set(reference) == set(WORKLOADS)
    for w in WORKLOADS.values():
        # flagship_docs_per_s is an end-to-end metric of every workload
        assert FLAGSHIP in w.queries
        assert sorted(reference[w.name]) == sorted(w.queries)
        for table in w.tables:
            assert os.path.isfile(os.path.join(BASE_DIR, f"{table}.parquet"))


def test_dedup_group_is_measured():
    from perfbench.workloads import DEDUP_QUERIES

    assert set(DEDUP_QUERIES) <= {q for w in WORKLOADS.values() for q in w.queries}


def test_tagging_that_adds_jobs_fails_the_run():
    assert layers.trace_problems({"trace.extra_jobs": 0}) == []
    assert layers.trace_problems({"trace.extra_jobs": 1})


def test_end_to_end_takes_each_querys_median_untraced_execution():
    def run(traced, *times):
        return {"traced": traced, "queries": [{"query": q, "wall_s": t} for q, t in times]}

    flag = "tscan_doc_features"
    passes = [
        run(False, (flag, 2.0), ("other", 1.0), (flag, 1.8)),
        run(False, (flag, 1.6), ("other", 1.2), (flag, 1.4)),
        run(False, ("other", 1.1), ("broken", 0.1)),
        run(True, (flag, 0.1), ("other", 0.1)),
    ]
    passes[2]["queries"][1]["error"] = "RuntimeError: boom"
    setups = [{"build_s": 0.4, "warmup_s": 0.1}] * 3
    values = layers.end_to_end(passes, setups, {"documents": {"rows": 800}})
    assert values["wall_s"] == pytest.approx(1.7 + 1.1)
    assert values["query_p50_s"] == pytest.approx(1.4)
    assert values["flagship_docs_per_s"] == pytest.approx(800 / 1.7)
    assert values["setup_s"] == pytest.approx(0.5)


def test_pass_order_runs_the_flagship_twice_never_back_to_back():
    import random

    from perfbench.workloads import FLAGSHIP, pass_order

    for w in WORKLOADS.values():
        rng = random.Random(7)
        orders = [pass_order(rng, w.queries) for _ in range(50)]
        again = random.Random(7)
        assert orders == [pass_order(again, w.queries) for _ in range(50)]
        for order in orders:
            assert sorted(order) == sorted(w.queries + (FLAGSHIP,))
            at = [i for i, q in enumerate(order) if q == FLAGSHIP]
            assert 0 < at[0] and at[1] < len(order) - 1 and at[1] - at[0] > 1
        assert len({tuple(o) for o in orders}) > 1
