"""Event-log parsing and span arithmetic, against a small recorded log.

The log under data/ was recorded from Spark 4.1.2 (local[2], AQE off):
job 0 in group span-1 is a two-stage groupBy over 2 partitions, job 1 in
group span-2 a two-stage sum, job 2 an untagged one-task count. Fields the
parser does not read (call sites, plans, environment) were stripped.

Run with: python -m pytest perfbench/tests
"""

import json
import os

import pytest

from perfbench import spans

DATA = os.path.join(os.path.dirname(__file__), "data")
MB = 1 << 20


def recorded_groups():
    return spans.counters_by_group(spans.read_events(spans.event_log_files(DATA)))


def test_event_log_files_orders_rolled_parts(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    for n in (10, 2, 1):
        (app / f"events_{n}_local-1").write_text("")
    (app / "appstatus_local-1").write_text("")
    (tmp_path / "local-2.inprogress").write_text("")
    (tmp_path / "local-3").write_text("")
    names = [os.path.basename(p) for p in spans.event_log_files(str(tmp_path))]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1", "local-3"]


def test_counters_by_group_on_recorded_log():
    g = recorded_groups()
    assert set(g) == {"span-1", "span-2", None}

    s1 = g["span-1"]
    assert (s1["jobs"], s1["stages"], s1["tasks"]) == (1, 2, 4)
    assert s1["shuffle_write_mb"] * MB == pytest.approx(2 * 182)
    assert s1["shuffle_read_mb"] * MB == pytest.approx(176 + 188)
    assert s1["executor_run_s"] == pytest.approx((255 + 253 + 100 + 98) / 1e3)
    assert s1["gc_s"] == pytest.approx(0.040)
    assert s1["executor_cpu_s"] == pytest.approx((181414374 + 71604189 + 59450123 + 36609472) / 1e9)
    assert s1["spill_mb"] == 0
    assert sorted(s1["task_intervals"])[0] == pytest.approx((1792205813.395, 1792205813.807))

    s2 = g["span-2"]
    assert (s2["jobs"], s2["stages"], s2["tasks"]) == (1, 2, 3)

    untagged = g[None]
    assert (untagged["jobs"], untagged["stages"], untagged["tasks"]) == (1, 1, 1)


def test_every_task_end_is_counted_once():
    with open(spans.event_log_files(DATA)[0]) as f:
        ends = sum(json.loads(line)["Event"] == "SparkListenerTaskEnd" for line in f)
    assert sum(g["tasks"] for g in recorded_groups().values()) == ends


def test_covered_merges_overlaps_and_clips():
    iv = [(0, 2), (1, 3), (5, 6)]
    assert spans.covered(iv, 0, 10) == 4
    assert spans.covered(iv, 1.5, 5.5) == 2
    assert spans.covered([], 0, 1) == 0
    assert spans.covered([(2, 3)], 0, 1) == 0


def test_self_time_subtracts_union_of_children():
    parent = {"start": 0.0, "end": 10.0}
    children = [{"start": 1.0, "end": 4.0}, {"start": 3.0, "end": 5.0}, {"start": 9.0, "end": 12.0}]
    # children cover [1,5] and [9,10] inside the parent
    assert spans.self_time(parent, children) == pytest.approx(5.0)
    assert spans.self_time(parent, []) == pytest.approx(10.0)


def _span(sid, name, parent, start, end, pass_id=1):
    return {"id": sid, "name": name, "parent": parent, "start": start, "end": end, "pass_id": pass_id}


def test_span_metrics_on_recorded_log():
    t0 = 1792205813.0
    recorded = [
        _span("span-0", "pass", None, t0, t0 + 1.5),
        _span("span-1", "algorithms.labelprop", "span-0", t0 + 0.2, t0 + 1.1),
        _span("span-2", "algorithms.hits", "span-0", t0 + 1.2, t0 + 1.4),
    ]
    rec = {r["id"]: r for r in spans.span_metrics(recorded, recorded_groups())}
    us = 1e-6  # epoch-second floats carry about a microsecond of rounding

    # span-1's tasks run [.395,.810] and [.853,.999]: 0.561 s of its 0.9 s
    assert rec["span-1"]["driver_gap_s"] == pytest.approx(0.9 - 0.561, abs=us)
    # span-2's tasks run [.230,.281] and [.303,.333]
    assert rec["span-2"]["driver_gap_s"] == pytest.approx(0.2 - 0.081, abs=us)
    # the pass is inclusive of its children and owns no jobs of its own
    assert rec["span-0"]["tasks"] == 7
    assert rec["span-0"]["jobs"] == 2
    assert rec["span-0"]["driver_gap_s"] == pytest.approx(1.5 - 0.561 - 0.081, abs=us)
    assert rec["span-0"]["self_s"] == pytest.approx(1.5 - 0.9 - 0.2, abs=us)

    summary = spans.summarize(list(rec.values()), ["algorithms.hits", "extract"])
    assert list(summary) == ["algorithms.hits"]
    assert summary["algorithms.hits"]["tasks"] == {"median": 3, "min": 3, "max": 3}


def test_tracer_pass_time_is_sum_of_layer_calls():
    tr = spans.Tracer("crawl")
    tr.spans = [
        _span("a", "pass", None, 0.0, 10.0, pass_id=1),
        _span("b", "extract", "a", 0.5, 2.5, pass_id=1),
        _span("c", "algorithms.hits", "a", 3.0, 4.0, pass_id=1),
        _span("d", "checkpoint.commit", "c", 3.2, 3.4, pass_id=1),
        _span("e", "pass", None, 20.0, 30.0, pass_id=0),
        _span("f", "extract", "e", 20.0, 29.0, pass_id=0),
    ]
    assert tr.durations("pass", [1]) == [pytest.approx(3.0)]
    assert tr.durations("extract", [0, 1]) == [pytest.approx(2.0), pytest.approx(9.0)]
    assert tr.durations("checkpoint.commit", [1]) == []


def test_tracer_records_nesting_without_spark():
    tr = spans.Tracer("resume")
    tr.pass_id = 3
    with tr.span("pass"):
        with tr.span("algorithms.pagerank"):
            with tr.span("checkpoint.commit") as rec:
                rec["files"] = 2
    outer, mid, inner = tr.spans
    assert (outer["parent"], mid["parent"], inner["parent"]) == (None, outer["id"], mid["id"])
    assert all(s["pass_id"] == 3 and s["end"] >= s["start"] for s in tr.spans)
    assert inner["files"] == 2
