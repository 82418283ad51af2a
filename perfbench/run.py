"""The engine benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 5 --trace 0

Run from the repository root. Each run launches a fresh client process
(``client.py``) the way a user starts the engine -- ``get_session`` on
``local[<cores>]``, then ``load_catalog`` -- with the repository on
``PYTHONPATH`` and every scratch location in a per-run directory under
``.perfbench/`` that is removed afterwards. While the client runs, this
process polls ``/proc`` for the resident memory of the client, its JVM
and the PySpark workers, and afterwards stops every process of that tree.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
workload traced and prints the per-layer metrics, including the tracing
overhead. Every line before the last is a ``#`` comment (launch
settings, oracle verdicts, the tail percentile and its sample count,
the memory split); the last line is one JSON object. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import core  # noqa: E402
import procfs  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")
STATE = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "2g"
CLIENT_TIMEOUT_S = 170
MB = 1024.0 * 1024.0


def _part(pid: int, root: int) -> str | None:
    """Which part of the engine a process is: the client, its JVM, a
    PySpark daemon or worker, or None for anything else (a fork child of
    the JVM shows the JVM's pages until it execs, and would count them
    twice)."""
    if pid == root:
        return "client"
    st = procfs.stat(pid)
    if st is None:
        return None
    if st.comm == "java" and st.ppid == root:
        return "jvm"
    if b"pyspark.daemon" in procfs.argv(pid):
        return "workers"
    return None


class TreeWatch(threading.Thread):
    """Polls a process tree every ``period`` s. Keeps the peak of the
    summed resident memory of the client, its JVM and the PySpark daemons
    and workers, with the split at that peak, and every process it has
    seen, so that those the client's process group does not hold (PySpark
    daemons start their own) can be stopped too."""

    def __init__(self, pid: int, period: float = 0.1):
        super().__init__(daemon=True)
        self.pid, self.period = pid, period
        self.peak = 0
        self.split = {"client": 0, "jvm": 0, "workers": 0}
        self.seen: dict[int, int] = {}
        self.done = threading.Event()

    def run(self):
        while not self.done.wait(self.period):
            split = {"client": 0, "jvm": 0, "workers": 0}
            for pid in procfs.tree(self.pid):
                if pid not in self.seen:
                    st = procfs.stat(pid)
                    if st is None:
                        continue
                    self.seen[pid] = st.start_ticks
                part = _part(pid, self.pid)
                if part is not None:
                    split[part] += procfs.rss_bytes(pid)
            if sum(split.values()) > self.peak:
                self.peak, self.split = sum(split.values()), split


def _alive(pid: int, start_ticks: int) -> bool:
    st = procfs.stat(pid)
    return st is not None and st.start_ticks == start_ticks


def _stop_all(proc: subprocess.Popen, watch: TreeWatch) -> None:
    """Kill whatever is left of the client's process group and of the
    processes seen in its tree, and wait until every one has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    left = {p: t for p, t in watch.seen.items() if _alive(p, t)}
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 30
    while left and time.time() < deadline:
        time.sleep(0.1)
        left = {p: t for p, t in left.items() if _alive(p, t)}


def run_client(args, traced: bool, cores: int) -> dict:
    """Run one client process; returns its result plus ``peak_rss_mb``."""
    run_dir = os.path.join(STATE, f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
    )
    result_path = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "client.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(int(traced)),
        "--data", DATA, "--oracle-cache", os.path.join(STATE, "oracle"),
        "--eventlog", os.path.join(run_dir, "eventlog"),
        "--result", result_path,
        "--spans", os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json"),
    ]
    os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
    try:
        with open(os.path.join(run_dir, "client.err"), "wb") as err:
            t0 = time.time()
            proc = subprocess.Popen(
                cmd + ["--t0", repr(t0)], cwd=run_dir, env=env,
                stdout=subprocess.DEVNULL, stderr=err, start_new_session=True,
            )
            watch = TreeWatch(proc.pid)
            watch.start()
            try:
                code = proc.wait(timeout=CLIENT_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            watch.done.set()
            watch.join()
            _stop_all(proc, watch)
        if code != 0 or not os.path.exists(result_path):
            with open(os.path.join(run_dir, "client.err"), "rb") as f:
                tail = f.read()[-4000:].decode(errors="replace")
            raise RuntimeError(f"client exited with {code}:\n{tail}")
        with open(result_path) as f:
            result = json.load(f)
        result["peak_rss_mb"] = watch.peak / MB
        result["peak_rss_split_mb"] = {k: v / MB for k, v in watch.split.items()}
        return result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def summarize(res: dict) -> tuple[dict, int, int, list[str]]:
    """End-to-end metrics, attempted, failed and comment lines."""
    lat = [b + e for _, b, e in res["samples"]]
    failed_verify = [n for n, v in res["verdicts"].items() if v != "ok"]
    attempted = (len(res["verdicts"]) + len(res["samples"]) + res["traced_executions"]
                 + len(res["timed_failures"]))
    failed = len(failed_verify) + len(res["timed_failures"])
    notes = [f"oracle {n}: {v}" for n, v in res["verdicts"].items()]
    notes += [f"timed failure {n}: {tb.strip().splitlines()[-1]}"
              for n, tb in res["timed_failures"]]
    n_min = core.MIN_PASSES * len(res["queries"])
    pct = core.tail_percentile(n_min, len(lat))
    if pct is None:
        raise RuntimeError(f"{len(lat)} timed executions: too few for a tail percentile")
    notes.append(
        f"latency_tail_s is the p{pct:.2f} latency over {len(lat)} timed executions "
        f"({res['passes']} passes of {len(res['queries'])} queries)"
    )
    metrics = {
        "setup_s": res["setup_s"],
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": core.nearest_rank(lat, pct),
        "queries_per_min": len(res["samples"]) / res["timed_wall_s"] * 60.0,
        "success_rate": 1.0 - failed / attempted,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    return metrics, attempted, failed, notes


def labelled(values: dict[str, float], kind: str) -> dict:
    """The measured metrics with the units ``BENCHMARK.json`` declares
    for them; a metric measured but not declared, or declared but not
    measured, is an error."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)[kind]}
    if set(values) != set(units):
        raise RuntimeError(f"{kind} mismatch: {sorted(set(values) ^ set(units))}")
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(core.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "etfconstituentextractor_spark")):
        print("perfbench: no engine package next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    print(f"# launch: PYTHONPATH={ROOT} SPARK_GRAFT_CPUS={cores} SPARK_DRIVER_MEM={DRIVER_MEM} "
          f"master=local[{cores}] data=perfbench/data/sf0.01")
    print(f"# workload {args.workload} seed {args.seed}: {' '.join(core.WORKLOADS[args.workload])}")

    res = run_client(args, traced=bool(args.trace), cores=cores)
    metrics, attempted, failed, notes = summarize(res)
    split = ", ".join(f"{k} {v:.0f} MB" for k, v in res["peak_rss_split_mb"].items())
    notes.append(f"peak_rss_mb split: {split}")
    if args.trace:
        layers = res["layers"]
        notes.append(
            f"tracing overhead {layers['trace.overhead_pct']:.2f}% (traced vs untraced passes "
            f"of the same orders); spans in .perfbench/traces/{args.workload}-seed{args.seed}.json"
        )
        out_metrics = labelled(layers, "per_layer")
    else:
        out_metrics = labelled(metrics, "end_to_end")
    for n in notes:
        print(f"# {n}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
