"""Self-tests of the benchmark's own logic; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pyarrow.parquet as pq
import pytest

import datagen
import run
import tracing


def _span(i, parent, start, end, name="s", op="q"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name, "op": op}


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(45)]
    value, pct = tracing.tail_percentile(xs[::-1])
    assert sum(1 for x in xs if x > value) == 10
    assert (value, pct) == (34.0, 77)


def test_tail_with_exactly_eleven_samples_is_the_minimum():
    assert tracing.tail_percentile([float(i) for i in range(11)]) == (0.0, 9)


def test_tail_falls_back_to_max_below_eleven_samples():
    assert tracing.tail_percentile([3.0, 1.0, 2.0]) == (3.0, 100)


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 2, 2.0, 3.0),
        _span(4, 1, 5.0, 6.0),
    ]
    st = tracing.self_times(spans)
    assert st == pytest.approx({1: 6.0, 2: 2.0, 3: 1.0, 4: 1.0})


def test_tracer_nests_spans_and_inherits_the_operation():
    t = tracing.Tracer(True)
    with t.span("query", op="q1"):
        with t.span("build"):
            with t.span("io.table_open"):
                pass
    by_name = {s["name"]: s for s in t.spans}
    assert by_name["build"]["parent"] == by_name["query"]["id"]
    assert by_name["io.table_open"]["parent"] == by_name["build"]["id"]
    assert {s["op"] for s in t.spans} == {"q1"}
    st = tracing.self_times(t.spans)
    assert st[by_name["build"]["id"]] <= tracing.duration(by_name["build"])


def test_disabled_tracer_records_nothing():
    t = tracing.Tracer(False)
    with t.span("query", op="q") as s:
        assert s is None
    assert t.begin("x") is None and t.spans == []


def test_wrap_times_calls_and_keeps_results():
    class Owner:
        @staticmethod
        def f(a, b):
            return a + b

    t = tracing.Tracer(True)
    t.wrap(Owner, "f", "layer.f", on_result=lambda s, a, k, r: s.update(rows=r))
    assert Owner.f(2, 3) == 5
    assert tracing.total(t.spans, "layer.f", "rows") == 5


def test_has_ancestor():
    spans = [_span(1, None, 0, 3, "io.merge"), _span(2, 1, 0, 2, "x"), _span(3, 2, 0, 1, "io.write")]
    by_id = {s["id"]: s for s in spans}
    assert tracing.has_ancestor(spans[2], "io.merge", by_id)
    assert not tracing.has_ancestor(spans[0], "io.merge", by_id)


def test_error_rate_counts_each_failing_operation_once():
    ops = [
        {"op": "a"},
        {"op": "b", "error": "boom"},
        {"op": "c", "exit_code": 1},
        {"op": "d", "check": False},
        {"op": "e", "error": "boom", "exit_code": 1, "check": False},
        {"op": "f", "exit_code": 0, "check": True},
    ]
    assert tracing.count_failures(ops) == (6, 4)
    assert tracing.error_rate(ops) == pytest.approx(4 / 6)
    assert tracing.error_rate([{"op": "a"}]) == 0.0


def test_result_line_fits_and_has_the_result_keys():
    metrics = {k: (123456.78901234567, u) for k, u in run.END_TO_END.items()}
    line = tracing.result_line(1000, 0, True, metrics)
    assert len(line.encode()) <= tracing.MAX_RESULT_LINE_BYTES
    assert set(json.loads(line)) == {"correct", "attempted", "failed", "metrics"}


def test_result_line_rejects_an_oversized_line():
    metrics = {f"m{i}": (1.0, "s") for i in range(200)}
    with pytest.raises(ValueError):
        tracing.result_line(1, 0, True, metrics)
    assert tracing.result_line(1, 0, True, metrics, max_bytes=None)


def test_benchmark_json_matches_the_metric_tables():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: u for k, (u, _) in run.PER_LAYER.items()
    }


def test_catalog_work_is_fixed_and_only_its_order_is_seeded():
    pool = [f"q{i}" for i in range(30)]
    a = run.catalog_work(pool, 20, 1.7, 12, seed=1)
    assert a == run.catalog_work(pool, 20, 1.7, 12, seed=1)
    assert Counter(a) == Counter(run.catalog_work(pool[::-1], 20, 1.7, 12, seed=2))
    assert a != run.catalog_work(pool, 20, 1.7, 12, seed=2)
    assert len(a) == 34 and len(set(a)) == 12


def test_delta_is_seeded_and_past_the_cursor(tmp_path):
    a = datagen.table_dir("0.001")
    rows = datagen.row_counts(a)
    exp = datagen.make_delta_dir(a, str(tmp_path / "d"), seed=5)
    datagen.make_delta_dir(a, str(tmp_path / "e"), seed=5)
    datagen.make_delta_dir(a, str(tmp_path / "f"), seed=6)
    for t in datagen.TABLES:
        assert pq.read_table(tmp_path / "d" / f"{t}.parquet").equals(
            pq.read_table(tmp_path / "e" / f"{t}.parquet"))
    assert not pq.read_table(tmp_path / "d" / "orders.parquet").equals(
        pq.read_table(tmp_path / "f" / "orders.parquet"))
    orders = pq.read_table(os.path.join(a, "orders.parquet")).to_pandas()
    grown = pq.read_table(tmp_path / "d" / "orders.parquet").to_pandas()
    late = grown[grown.o_orderdate > orders.o_orderdate.max()]
    assert exp["orders"] == {"rows_loaded": len(late), "target_rows": len(grown)}
    assert grown.o_orderkey.is_unique and len(grown) == rows["orders"] + rows["orders"] // 100
    assert late.o_orderkey.isin(orders.o_orderkey).sum() == rows["orders"] // 100
