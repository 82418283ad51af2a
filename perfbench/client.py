"""One benchmark client: a single process and thread driving one
workload through the engine, closed loop.

Started by ``run.py`` with the launch environment already set; writes
its measurements as JSON to ``--result``. Not meant to be run alone.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import pickle
import statistics
import sys
import time
import traceback

import core
import procfs

STEP_NAMES = frozenset({"build", "exec", "collect"})


class Collected:
    """A collected result presented to ``tests.parity.compare``, which
    calls ``toPandas()`` on what it is given."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):  # noqa: N802 - mirrors the DataFrame method
        return self.pdf


# ---------------------------------------------------------------------------
# Python worker CPU
# ---------------------------------------------------------------------------


def python_worker_cpu_s() -> float:
    """CPU seconds of the PySpark worker processes (the JVM's python
    descendants; reaped workers are in their parent's child times)."""
    ticks = 0
    for pid in procfs.tree(os.getpid())[1:]:
        st = procfs.stat(pid)
        if st is not None and st.comm == "java":
            for w in procfs.tree(pid)[1:]:
                wst = procfs.stat(w)
                if wst is not None and wst.comm.startswith("python"):
                    ticks += wst.cpu_ticks
    return ticks / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# oracle check
# ---------------------------------------------------------------------------


def _corpus_digest(sf_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        h.update(name.encode())
        with open(os.path.join(sf_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def oracle_answers(names, oracles, sf_dir: str, cache_dir: str) -> dict:
    """name -> DuckDB answer of its ORACLES SQL, or the error it raised.

    Answers are cached in ``cache_dir`` keyed by (SQL, DuckDB version,
    corpus bytes): they are a function of the oracle and the data only,
    never of the engine under test.
    """
    import duckdb

    from tests import parity

    os.makedirs(cache_dir, exist_ok=True)
    corpus = _corpus_digest(sf_dir)
    out, con = {}, None
    try:
        for name in names:
            key = hashlib.sha256(
                "\0".join([oracles[name], duckdb.__version__, corpus]).encode()
            ).hexdigest()
            path = os.path.join(cache_dir, f"{key}.pkl")
            if os.path.exists(path):
                with open(path, "rb") as f:
                    out[name] = pickle.load(f)
                continue
            if con is None:
                con = parity.duck_connection(sf_dir)
            try:
                out[name] = con.execute(oracles[name]).fetchdf()
            except duckdb.Error as exc:
                out[name] = exc  # a failed check, not a cached answer
                continue
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "wb") as f:
                pickle.dump(out[name], f)
            os.replace(tmp, path)
    finally:
        if con is not None:
            con.close()
    return out


# ---------------------------------------------------------------------------
# streaming progress (traced run only)
# ---------------------------------------------------------------------------


def _stream_probe():
    from datetime import datetime

    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProbe(StreamingQueryListener):
        def __init__(self):
            self.progress = []

        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            started = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            state = sum(op.numRowsTotal for op in p.stateOperators)
            self.progress.append((started, str(p.runId), p.batchDuration / 1000.0, state))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return StreamProbe()


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


class Steps:
    """Context manager factory for the benchmark's steps. Untraced it
    does nothing; traced, each step is a span, and a step that launches
    Spark jobs sets its span id as their job group."""

    def __init__(self, sc, tracer):
        self.sc, self.tracer = sc, tracer

    @contextlib.contextmanager
    def __call__(self, name: str, jobs: bool = False, **attrs):
        if self.tracer is None:
            yield
            return
        with self.tracer.span(name, **attrs) as s:
            if jobs:
                self.sc.setJobGroup(s.span_id, name)
            try:
                yield
            finally:
                if jobs:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(core.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True, help="wall time the process was spawned")
    ap.add_argument("--data", required=True)
    ap.add_argument("--oracle-cache", required=True)
    ap.add_argument("--eventlog", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    from etfconstituentextractor_spark.plans.registry import ORACLES, QUERIES, load_catalog
    from etfconstituentextractor_spark.session import get_session

    confs = {}
    if traced:
        os.makedirs(args.eventlog, exist_ok=True)
        confs = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(args.eventlog),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = get_session(app_name=f"perfbench-{args.workload}", extra_confs=confs)
    load_catalog()
    t_session = time.time()

    tracer = probe = None
    if traced:
        tracer = core.Tracer(f"{args.workload}-{args.seed}", time.time)
        probe = _stream_probe()
    names = core.resolve(args.workload, list(QUERIES))
    sf_dir = args.data
    errors: dict[str, str] = {}
    collected = {}
    passes = []  # one dict per timed pass

    def timed_pass(pass_no: int, order_no: int, step) -> None:
        """One pass of the workload, each query timed from plan build
        through its noop-sink write."""
        p = {"traced": step.tracer is not None, "samples": [], "failures": []}
        if p["traced"]:
            spark.streams.addListener(probe)
            cpu0 = python_worker_cpu_s()
        p["start"] = time.time()
        t_pass = time.perf_counter()
        with step("pass", pass_no=pass_no):
            for name in core.pass_order(names, args.seed, order_no):
                with step("query", query=name):
                    try:
                        t0 = time.perf_counter()
                        with step("build", jobs=True):
                            df = QUERIES[name](spark, sf_dir)
                        t1 = time.perf_counter()
                        with step("exec", jobs=True):
                            df.write.format("noop").mode("overwrite").save()
                        p["samples"].append((name, t1 - t0, time.perf_counter() - t1))
                    except Exception:
                        p["failures"].append((name, traceback.format_exc(limit=3)))
        p["wall"] = time.perf_counter() - t_pass
        p["end"] = time.time()
        if p["traced"]:
            p["python_cpu_s"] = python_worker_cpu_s() - cpu0
            spark.streams.removeListener(probe)
        passes.append(p)

    plain = Steps(spark.sparkContext, None)
    step = Steps(spark.sparkContext, tracer)
    with step("workload", workload=args.workload, seed=args.seed):
        # warm pass: untimed, part of set-up; the oracle check compares
        # the results it collects
        with step("pass", pass_no=0):
            for name in core.pass_order(names, args.seed, 0):
                with step("query", query=name):
                    try:
                        with step("build", jobs=True):
                            df = QUERIES[name](spark, sf_dir)
                        with step("collect", jobs=True):
                            collected[name] = df.toPandas()
                    except Exception:
                        errors[name] = traceback.format_exc(limit=3)
        t_setup = time.time()

        # timed section: whole passes until --seconds have elapsed, at
        # least MIN_PASSES. Traced, each of TRACE_ORDERS pass orders runs
        # twice, once untraced and once traced, alternating which goes
        # first, so the tracing overhead is measured under the same
        # conditions.
        begin = time.perf_counter()
        order_no = 0
        min_orders = core.TRACE_ORDERS if traced else core.MIN_PASSES
        while order_no < min_orders or time.perf_counter() - begin < args.seconds:
            order_no += 1
            if not traced:
                timed_pass(order_no, order_no, plain)
                continue
            for s in ((plain, step) if order_no % 2 else (step, plain)):
                timed_pass(len(passes) + 1, order_no, s)

        # oracle check, outside every timed region
        with step("oracle"):
            from tests import parity

            answers = oracle_answers(
                [n for n in names if n in collected], ORACLES, sf_dir, args.oracle_cache
            )
            verdicts = {}
            for name in names:
                if name in errors:
                    verdicts[name] = "error: " + errors[name].strip().splitlines()[-1]
                    continue
                with step("verify", query=name):
                    try:
                        if isinstance(answers[name], Exception):
                            raise answers[name]
                        parity.compare(Collected(collected[name]), answers[name], name=name)
                        verdicts[name] = "ok"
                    except AssertionError as exc:
                        verdicts[name] = "mismatch: " + str(exc).splitlines()[0]
                    except Exception as exc:  # the check itself failed: count it
                        verdicts[name] = f"check error: {exc!r}"[:300]

        scan_s = 0.0
        if traced:
            with step("scan"):
                scan_s = scan_seconds(spark, sf_dir)

    spark.stop()

    timed = [p for p in passes if not p["traced"]]
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "queries": names,
        "session_start_s": t_session - args.t0,
        "warm_pass_s": t_setup - t_session,
        "setup_s": t_setup - args.t0,
        "passes": len(timed),
        "timed_wall_s": sum(p["wall"] for p in timed),
        "samples": [s for p in timed for s in p["samples"]],
        "timed_failures": [f for p in passes for f in p["failures"]],
        "traced_executions": sum(len(p["samples"]) for p in passes if p["traced"]),
        "verdicts": verdicts,
    }
    if traced:
        per_span = core.aggregate_eventlog(
            _read_lines(args.eventlog), tracer.spans, STEP_NAMES
        )
        result["layers"] = layer_metrics(
            per_span, tracer, probe, passes, scan_s, result,
            int(os.environ["SPARK_GRAFT_CPUS"]),
        )
        selft = core.self_times(tracer.spans)
        with open(args.spans, "w") as f:
            json.dump(
                [
                    {
                        "span_id": s.span_id, "trace_id": s.trace_id, "name": s.name,
                        "parent": s.parent, "start": s.start, "end": s.end,
                        "self_s": selft[s.span_id], **s.attrs,
                        **({"tasks": per_span[s.span_id]} if s.span_id in per_span else {}),
                    }
                    for s in tracer.spans
                ],
                f,
            )
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


def scan_seconds(spark, sf_dir: str) -> float:
    """Sum over the corpus tables of the median of three ``load()`` ->
    noop-sink scans: the sources layer alone."""
    from etfconstituentextractor_spark.schemas import TABLES
    from etfconstituentextractor_spark.sources.tables import load

    total = 0.0
    for t in TABLES:
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            load(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
            reps.append(time.perf_counter() - t0)
        total += statistics.median(reps)
    return total


def _read_lines(directory: str) -> list[str]:
    lines = []
    for fn in sorted(os.listdir(directory)):
        with open(os.path.join(directory, fn)) as f:
            lines.extend(f)
    return lines


def layer_metrics(per_span, tracer, probe, passes, scan_s, result, cores) -> dict:
    """Per-layer metrics of the traced passes: totals per pass unless
    the name says otherwise."""
    by_id = {s.span_id: s for s in tracer.spans}

    def in_timed_pass(span_id):
        s = by_id.get(span_id)
        while s is not None and s.name != "pass":
            s = by_id.get(s.parent)
        return s is not None and s.attrs["pass_no"] >= 1

    tot = dict.fromkeys(core.TASK_FIELDS, 0)
    build_jobs = 0
    for sid, t in per_span.items():
        if in_timed_pass(sid):
            for k in core.TASK_FIELDS:
                tot[k] += t[k]
            if by_id[sid].name == "build":
                build_jobs += t["jobs"]

    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    samples = [s for p in traced for s in p["samples"]]
    windows = [(p["start"], p["end"]) for p in traced]
    prog = [e for e in probe.progress if any(lo <= e[0] <= hi for lo, hi in windows)]
    last_state: dict[str, float] = {}
    for _, run_id, _, state in sorted(prog):
        last_state[run_id] = state

    mb = 1024.0 * 1024.0
    per_pass = 1.0 / len(traced)
    traced_wall = sum(p["wall"] for p in traced)
    plain_wall = sum(p["wall"] for p in plain)
    out = {
        "session.start_s": result["session_start_s"],
        "session.warm_pass_s": result["warm_pass_s"],
        "plans.build_s": sum(s[1] for s in samples) * per_pass,
        "plans.build_jobs": build_jobs * per_pass,
        "plans.exec_s": sum(s[2] for s in samples) * per_pass,
        "sources.scan_s": scan_s,
        "sources.input_mb": tot["input_bytes"] / mb * per_pass,
        "sources.input_rows": tot["input_rows"] * per_pass,
        "sources.output_mb": tot["output_bytes"] / mb * per_pass,
        "operators.jobs": tot["jobs"] * per_pass,
        "operators.stages": tot["stages"] * per_pass,
        "operators.tasks": tot["tasks"] * per_pass,
        "operators.shuffle_read_mb": tot["shuffle_read_bytes"] / mb * per_pass,
        "operators.shuffle_write_mb": tot["shuffle_write_bytes"] / mb * per_pass,
        "operators.run_s": tot["run_ms"] / 1000.0 * per_pass,
        "operators.cpu_s": tot["cpu_ns"] / 1e9 * per_pass,
        "operators.core_util": tot["run_ms"] / 1000.0 / (traced_wall * cores),
        "operators.spill_mb": tot["spill_bytes"] / mb * per_pass,
        "operators.gc_s": tot["gc_ms"] / 1000.0 * per_pass,
        "operators.failed_tasks": tot["failed_tasks"] * per_pass,
        "functions.python_cpu_s": sum(p["python_cpu_s"] for p in traced) * per_pass,
        "streaming.batches": len(prog) * per_pass,
        "streaming.batch_p50_s": statistics.median(e[2] for e in prog) if prog else 0.0,
        "streaming.state_rows": sum(last_state.values()) * per_pass,
        "trace.overhead_pct": (traced_wall / plain_wall - 1.0) * 100.0,
    }
    for qids in core.WORKLOADS.values():
        for qid in qids:
            lat = [s[1] + s[2] for s in samples if core.query_id(s[0]) == qid]
            out[f"plans.{qid}.latency_s"] = statistics.median(lat) if lat else 0.0
    return out


if __name__ == "__main__":
    sys.exit(main())
