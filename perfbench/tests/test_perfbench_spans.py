import json
import re
from pathlib import Path

import pytest

import run
from spans import Span, op_counters, self_times, union_length

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
BENCHMARK = Path(run.REPO) / "BENCHMARK.json"


def test_union_length_counts_overlap_once():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10)


def _span(i, layer, start, end, parent=None, **counters):
    return Span(id=i, op=1, layer=layer, name=layer, start=start, end=end,
                parent=parent, counters=counters)


def _job(i, parent, start, end, stages):
    return _span(i, "exec", start, end, parent, skipped_stages=0, stages=stages)


def _stage(tasks=1, run_s=0.0, cpu_s=0.0, input_records=0):
    return {"tasks": tasks, "run_s": run_s, "cpu_s": cpu_s, "gc_s": 0.0,
            "fetch_wait_s": 0.0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "spill_bytes": 0,
            "input_records": input_records}


def test_self_time_subtracts_children_and_clips():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "plans", 0.0, 4.0, 0),
        _span(2, "sources.tables", 1.0, 2.0, 1),
        _job(3, 2, 1.2, 1.8, {}),
        _span(4, "collect", 4.0, 10.0, 0),
        _job(5, 4, 5.0, 8.0, {}),
        _job(6, 4, 7.0, 11.0, {}),  # overlaps job 5, runs past its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(0.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(0.4)
    assert st[4] == pytest.approx(1.0)  # 6 s minus the union 5..10


def test_self_times_of_a_nested_tree_sum_to_its_root():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "plans", 0.5, 4.0, 0),
        _span(2, "sources.tables", 1.0, 2.0, 1),
        _job(3, 2, 1.2, 1.8, {}),
        _span(4, "collect", 4.0, 9.5, 0),
        _job(5, 4, 5.0, 8.0, {}),
    ]
    assert sum(self_times(spans).values()) == pytest.approx(10.0)


def test_op_counters_attribute_jobs_to_their_layer():
    shared = _stage(tasks=4, run_s=2.0, cpu_s=1.5, input_records=100)
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "plans", 0.0, 4.0, 0),
        _span(2, "sources.tables", 0.5, 1.0, 1),
        _job(3, 2, 0.6, 0.9, {10: _stage()}),
        _job(4, 1, 2.0, 3.0, {11: shared}),  # an eager checkpoint in the build
        _span(5, "collect", 4.0, 10.0, 0),
        _job(6, 5, 5.0, 9.0, {11: shared, 12: _stage(tasks=2)}),
    ]
    c = op_counters(spans)
    assert c["sources.tables.calls"] == 1 and c["sources.tables.jobs"] == 1
    assert c["plans.jobs"] == 1 and c["plans.tasks"] == 4
    assert c["exec.jobs"] == 3
    assert c["exec.stages"] == 3  # stage 11 is counted once
    assert c["exec.tasks"] == 1 + 4 + 2
    assert c["exec.input_records"] == 100
    assert c["plans.self_s"] == pytest.approx(4.0 - 0.5 - 1.0)
    assert c["collect.self_s"] == pytest.approx(2.0)
    assert c["self_s"] == pytest.approx(10.0)


def test_pass_layers_derives_ratios():
    out = run._pass_layers([
        {"exec.tasks": 6, "exec.stages": 3, "exec.run_s": 2.0, "exec.cpu_s": 0.5,
         "exec.input_records": 300, "source_rows": 100, "rows_written": 50,
         "sources.sink.bytes": 500, "operators.quality.input_records": 50},
        {"exec.tasks": 2, "exec.stages": 1, "source_rows": 100},
    ])
    assert out["exec.tasks_per_stage"] == 2
    assert out["exec.offcpu_s"] == pytest.approx(1.5)
    assert out["exec.input_scan_ratio"] == pytest.approx(1.5)
    assert out["sources.sink.bytes_per_row"] == 10
    assert out["operators.quality.scan_ratio"] == 1
    assert set(out) | {"session.start_s", "trace.overhead_frac",
                       "trace.layer_sum_ratio"} == set(run.PER_LAYER)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert run.tail_percentile(1000) == 99
    assert run.tail_percentile(100) == 90
    assert run.tail_percentile(40) == 75
    assert run.tail_percentile(10) == 50
    assert run.percentile([3.0, 1.0, 2.0, 4.0], 50) == 2.0
    assert run.percentile([3.0, 1.0, 2.0, 4.0], 75) == 3.0


def test_metric_names_and_benchmark_json_agree():
    spec = json.loads(BENCHMARK.read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    for name in list(e2e) + list(layers) + [w["name"] for w in spec["workloads"]]:
        assert NAME.match(name), name
    assert set(w["name"] for w in spec["workloads"]) <= set(
        __import__("workloads").WORKLOADS
    )

