"""Pure logic of the engine benchmark: workloads, seeded query order,
latency statistics, spans and Spark event-log aggregation.

Nothing here imports Spark, so the unit tests in ``test_core.py`` run
without a JVM.
"""

from __future__ import annotations

import contextlib
import json
import math
import random
from dataclasses import dataclass, field

#: Workload name -> registered query ids (the ``qNN`` prefix of the
#: registry name). Each id belongs to at most one workload. Eight cheap
#: queries each: MIN_PASSES passes of them are the fewest samples whose
#: tail percentile lies beyond the median, and a run must stay short
#: enough for the whole measurement's time budget (README.md, "Scope").
WORKLOADS: dict[str, tuple[str, ...]] = {
    "relational": ("q04", "q12", "q16", "q20", "q28", "q30", "q37", "q40"),
    "llm_curation": ("q56", "q63", "q82", "q84", "q87", "q90", "q91", "q95"),
}

#: A timed section runs whole passes until ``--seconds`` have elapsed,
#: and at least this many.
MIN_PASSES = 3

#: A traced run's pass orders, each run once untraced and once traced.
TRACE_ORDERS = 2

#: The tail percentile leaves at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def query_id(name: str) -> str:
    """``q01_pricing_summary`` -> ``q01``."""
    return name.split("_", 1)[0]


def resolve(workload: str, registered: list[str]) -> list[str]:
    """Registry names of a workload's queries, in workload order.

    Raises if an id matches no registered query or more than one, so a
    renamed or removed query fails the benchmark instead of silently
    shrinking the workload.
    """
    by_id: dict[str, list[str]] = {}
    for name in registered:
        by_id.setdefault(query_id(name), []).append(name)
    out = []
    for qid in WORKLOADS[workload]:
        names = by_id.get(qid, [])
        if len(names) != 1:
            raise KeyError(f"{workload}: query id {qid} matches {names or 'nothing'}")
        out.append(names[0])
    return out


def pass_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """The query order of one pass: a permutation drawn from
    (seed, pass number) only, so the same seed replays the same stream."""
    order = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def tail_percentile(n_min: int, n: int, min_beyond: int = TAIL_MIN_BEYOND) -> float | None:
    """The percentile reported as the tail latency.

    With n samples the nearest-rank p-th percentile is the
    ceil(p*n/100)-th smallest, so at least ``min_beyond`` samples lie
    beyond it when p <= 100*(n-min_beyond)/n. The percentile is fixed
    by the smallest sample a run can take (``n_min``: ``MIN_PASSES``
    passes of the workload), so a faster engine that fits more passes
    into a run is compared at the same percentile; fewer samples than
    that (timed failures) lower it. None when n <= min_beyond.
    """
    if n <= min_beyond:
        return None
    return 100.0 * (min(n_min, n) - min_beyond) / min(n_min, n)


def nearest_rank(samples: list[float], pct: float) -> float:
    """The nearest-rank ``pct``-th percentile of ``samples``."""
    ordered = sorted(samples)
    rank = max(1, math.ceil(round(pct * len(ordered) / 100.0, 9)))
    return ordered[rank - 1]


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    span_id: str
    name: str
    start: float
    end: float | None = None
    parent: str | None = None
    trace_id: str = ""
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; spans are written out once, at the end."""

    def __init__(self, trace_id: str, clock):
        self.trace_id = trace_id
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def start(self, name: str, **attrs) -> Span:
        parent = self._stack[-1].span_id if self._stack else None
        span = Span(f"s{len(self.spans)}", name, self.clock(), None, parent, self.trace_id, attrs)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def end(self, span: Span) -> None:
        if not self._stack or self._stack[-1] is not span:
            raise RuntimeError(f"span {span.name} ended out of order")
        self._stack.pop()
        span.end = self.clock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.start(name, **attrs)
        try:
            yield s
        finally:
            self.end(s)


def self_times(spans: list[Span]) -> dict[str, float]:
    """span_id -> duration minus the part of it its children cover.

    Children may overlap each other (or spill past the parent); the
    covered part is the union of the child intervals clipped to the
    parent's own interval.
    """
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = (s.end - s.start) - covered
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

#: Per-span task-metric totals read from the event log.
TASK_FIELDS = (
    "jobs", "stages", "tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
    "spill_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "input_bytes", "input_rows", "output_bytes",
)


def _task_totals(metrics: dict) -> dict:
    shuffle_r = metrics.get("Shuffle Read Metrics", {})
    shuffle_w = metrics.get("Shuffle Write Metrics", {})
    return {
        "run_ms": metrics.get("Executor Run Time", 0),
        "cpu_ns": metrics.get("Executor CPU Time", 0),
        "gc_ms": metrics.get("JVM GC Time", 0),
        "spill_bytes": metrics.get("Disk Bytes Spilled", 0),
        "shuffle_read_bytes": shuffle_r.get("Remote Bytes Read", 0)
        + shuffle_r.get("Local Bytes Read", 0),
        "shuffle_write_bytes": shuffle_w.get("Shuffle Bytes Written", 0),
        "input_bytes": metrics.get("Input Metrics", {}).get("Bytes Read", 0),
        "input_rows": metrics.get("Input Metrics", {}).get("Records Read", 0),
        "output_bytes": metrics.get("Output Metrics", {}).get("Bytes Written", 0),
    }


def aggregate_eventlog(lines, spans: list[Span], step_names: frozenset[str]) -> dict:
    """Sum Spark task metrics per span.

    A job belongs to the span whose id it carries as job group
    (``setJobGroup(span_id)``). Jobs carrying another group -- the
    streaming engine sets the query's run id on its micro-batch thread
    -- or none go to the step span (``step_names``) open at the job's
    submission time, else to ``"unattributed"``.

    Returns span_id -> {field: total} for the fields in ``TASK_FIELDS``.
    """
    by_id = {s.span_id: s for s in spans}
    steps = sorted((s for s in spans if s.name in step_names), key=lambda s: s.start)
    stage_owner: dict[int, str] = {}
    totals: dict[str, dict] = {}

    def bucket(owner):
        return totals.setdefault(owner, dict.fromkeys(TASK_FIELDS, 0))

    def owner_at(t: float) -> str:
        for s in steps:
            if s.start <= t <= s.end:
                return s.span_id
        return "unattributed"

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            owner = group if group in by_id else owner_at(ev["Submission Time"] / 1000.0)
            b = bucket(owner)
            b["jobs"] += 1
            for stage_id in ev.get("Stage IDs", []):
                stage_owner[stage_id] = owner
        elif kind == "SparkListenerStageCompleted":
            owner = stage_owner.get(ev["Stage Info"]["Stage ID"], "unattributed")
            bucket(owner)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            owner = stage_owner.get(ev["Stage ID"], "unattributed")
            b = bucket(owner)
            b["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                b["failed_tasks"] += 1
            for k, v in _task_totals(ev.get("Task Metrics") or {}).items():
                b[k] += v
    return totals
