"""Unit tests for the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json

import pytest

import core


def test_tail_percentile_is_fixed_by_the_smallest_run():
    # 2 passes of 15 queries: 30 samples, 10 beyond the 20th
    assert core.tail_percentile(30, 30) == pytest.approx(200 / 3)
    # a faster engine fits more passes: same percentile, more beyond
    assert core.tail_percentile(30, 45) == pytest.approx(200 / 3)
    # timed failures shrink the sample: the percentile drops with it
    assert core.tail_percentile(30, 20) == pytest.approx(50.0)
    assert core.tail_percentile(30, 11) == pytest.approx(100 / 11)
    assert core.tail_percentile(30, 10) is None


@pytest.mark.parametrize("n_min,n", [(30, 30), (30, 45), (28, 28), (28, 60), (30, 20), (12, 11)])
def test_tail_leaves_at_least_ten_samples_beyond(n_min, n):
    samples = [float(i) for i in range(1, n + 1)]
    value = core.nearest_rank(samples, core.tail_percentile(n_min, n))
    assert sum(1 for s in samples if s > value) >= core.TAIL_MIN_BEYOND
    # and it is the highest such percentile for the smallest run
    if n == n_min:
        assert sum(1 for s in samples if s > value) == core.TAIL_MIN_BEYOND


def test_every_workload_has_a_tail_beyond_its_median():
    for w, qs in core.WORKLOADS.items():
        n = core.MIN_PASSES * len(qs)
        samples = [float(i) for i in range(1, n + 1)]
        tail = core.nearest_rank(samples, core.tail_percentile(n, n))
        assert tail > n // 2 + 1, f"{w}: {n} samples put the tail on the median"


def test_nearest_rank():
    samples = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert core.nearest_rank(samples, 50) == 3.0
    assert core.nearest_rank(samples, 100) == 5.0
    assert core.nearest_rank(samples, 0) == 1.0
    assert core.nearest_rank(samples, 20) == 1.0
    assert core.nearest_rank(samples, 20.0001) == 2.0


def test_pass_order_is_a_seeded_permutation():
    names = [f"q{i:02d}_x" for i in range(15)]
    a = [core.pass_order(names, 7, p) for p in range(4)]
    b = [core.pass_order(names, 7, p) for p in range(4)]
    assert a == b
    for order in a:
        assert sorted(order) == sorted(names)
    assert len({tuple(o) for o in a}) == 4  # passes differ
    assert core.pass_order(names, 8, 1) != core.pass_order(names, 7, 1)
    assert names == [f"q{i:02d}_x" for i in range(15)]  # input untouched


def test_workloads_are_disjoint_and_resolve():
    ids = [q for qs in core.WORKLOADS.values() for q in qs]
    assert len(ids) == len(set(ids))
    registered = [f"{q}_name" for q in ids] + ["q99_other"]
    for w, qs in core.WORKLOADS.items():
        assert core.resolve(w, registered) == [f"{q}_name" for q in qs]
    first = core.WORKLOADS["relational"][0]
    with pytest.raises(KeyError):  # missing
        core.resolve("relational", [n for n in registered if not n.startswith(first)])
    with pytest.raises(KeyError):  # ambiguous
        core.resolve("relational", registered + [f"{first}_twin"])


def _span(sid, start, end, parent=None, name="x"):
    return core.Span(sid, name, start, end, parent)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span("p", 0.0, 10.0),
        _span("a", 1.0, 3.0, "p"),
        _span("b", 2.0, 5.0, "p"),  # overlaps a
        _span("c", 8.0, 12.0, "p"),  # spills past the parent
        _span("d", 2.5, 2.75, "b"),
    ]
    st = core.self_times(spans)
    assert st["p"] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st["a"] == pytest.approx(2.0)
    assert st["b"] == pytest.approx(3.0 - 0.25)
    assert st["c"] == pytest.approx(4.0)


def test_tracer_nests_and_rejects_out_of_order_ends():
    ticks = iter(range(100))
    tr = core.Tracer("t", lambda: float(next(ticks)))
    with tr.span("outer") as outer:
        with tr.span("inner", query="q01") as inner:
            pass
    assert inner.parent == outer.span_id and outer.parent is None
    assert inner.attrs == {"query": "q01"} and inner.trace_id == "t"
    assert outer.start < inner.start < inner.end < outer.end
    a = tr.start("a")
    tr.start("b")
    with pytest.raises(RuntimeError):
        tr.end(a)


def _ev(**kw):
    return json.dumps(kw)


def test_eventlog_aggregation_on_a_tiny_fixture():
    spans = [
        _span("s0", 100.0, 110.0, name="query"),
        _span("s1", 100.0, 104.0, "s0", name="build"),
        _span("s2", 104.0, 110.0, "s0", name="exec"),
    ]
    ok = {"Reason": "Success"}
    metrics = {
        "Executor Run Time": 40,
        "Executor CPU Time": 30_000_000,
        "JVM GC Time": 2,
        "Disk Bytes Spilled": 0,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 100},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 50},
        "Input Metrics": {"Bytes Read": 1000, "Records Read": 10},
        "Output Metrics": {"Bytes Written": 0, "Records Written": 0},
    }
    lines = [
        # job group names the build span
        _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 101_000,
            "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "s1"}}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Task End Reason": ok,
            "Task Metrics": metrics}),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
        # a streaming micro-batch: foreign group, attributed by time
        _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 105_500,
            "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "run-uuid"}}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 1, "Task End Reason": ok,
            "Task Metrics": metrics}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 2,
            "Task End Reason": {"Reason": "ExceptionFailure"}, "Task Metrics": metrics}),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1}}),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 2}}),
        # outside every step
        _ev(Event="SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 200_000,
            "Stage IDs": [3]}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 3, "Task End Reason": ok}),
        "",
    ]
    agg = core.aggregate_eventlog(lines, spans, frozenset({"build", "exec"}))
    assert set(agg) == {"s1", "s2", "unattributed"}
    b, e, u = agg["s1"], agg["s2"], agg["unattributed"]
    assert (b["jobs"], b["stages"], b["tasks"], b["failed_tasks"]) == (1, 1, 1, 0)
    assert (b["run_ms"], b["cpu_ns"], b["gc_ms"]) == (40, 30_000_000, 2)
    assert (b["shuffle_read_bytes"], b["shuffle_write_bytes"]) == (100, 50)
    assert (b["input_bytes"], b["input_rows"], b["output_bytes"]) == (1000, 10, 0)
    assert (e["jobs"], e["stages"], e["tasks"], e["failed_tasks"]) == (1, 2, 2, 1)
    assert e["run_ms"] == 80
    assert (u["jobs"], u["tasks"], u["run_ms"]) == (1, 1, 0)
