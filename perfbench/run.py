"""Seeded end-to-end benchmark of neulix_datahub_spark.

    python3 perfbench/run.py --workload bi_dashboard --seed 1 --seconds 10 --trace 0

Runs one workload (bi_dashboard, curation_batch, retrieval_serve or
events_stream) from the root of a source checkout: starts a local Spark
session sized to this machine, generates the workload's inputs from the
seed, warms up, runs a single-client closed loop for ``--seconds``,
checks every output, and prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones in
BENCHMARK.json; with ``--trace 1`` the per-layer ones, from a run with
spans, py4j call counting and the Spark event log turned on. See
perfbench/README.md for every metric and why each workload exists.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "1g"  # the JVM heap: room for every workload, far below RAM
# The heap is committed and touched at start, so peak_rss_mb does not
# swing with how far G1 happened to grow the heap in a given run.
JVM_OPTS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"


# ---------------------------------------------------------------------------
# /proc readers (psutil is not available)
# ---------------------------------------------------------------------------

def _children(pid: int) -> list[int]:
    """Direct children of ``pid``: a child is listed under the thread
    that forked it, so every thread's list is read."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            continue
    return out


def process_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _rss_mb(pid: int) -> float:
    # VmRSS is a counter the kernel keeps; reading it costs ~0.04 ms,
    # where the proportional set size (smaps_rollup) walks every page
    # table and took 35 ms for the JVM alone
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _resident(tree: list[int], me: int) -> list[int]:
    """The processes of ``tree`` whose memory counts: this one, the JVM
    it started, and every Python process (worker daemon and workers).
    A child the JVM forks to run a tool reports the JVM's whole VmRSS
    until it execs, which would double the sum, so it is left out."""
    out = []
    for p in tree:
        try:
            with open(f"/proc/{p}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        comm, ppid = head.split("(", 1)[1], int(rest.split()[1])
        if p == me or comm.startswith("python") or (comm == "java" and ppid == me):
            out.append(p)
    return out


class RssSampler(threading.Thread):
    """Peak resident memory (summed VmRSS) of this process, the JVM and
    its Python workers, whose pages shared with the worker daemon count
    once per worker. Sampled every ``INTERVAL_S``; the tree is walked
    from this process through /proc/<pid>/task/*/children every
    ``TREE_EVERY`` samples, never by listing all of /proc. A sample
    costs about 0.5 ms on average, tree walks included (8 processes,
    4 cores): 0.5% of one core."""

    INTERVAL_S = 0.1
    TREE_EVERY = 10

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_mb = 0.0
        self.pids: set[int] = set()
        self._tree: list[int] = []
        self._n = 0
        self._halt = threading.Event()

    def run(self):
        while not self._halt.wait(self.INTERVAL_S):
            self.sample()

    def sample(self):
        if self._n % self.TREE_EVERY == 0:
            tree = process_tree(os.getpid())
            self.pids.update(tree)
            self._tree = _resident(tree, os.getpid())
        self._n += 1
        self.peak_mb = max(self.peak_mb, sum(_rss_mb(p) for p in self._tree))

    def stop(self):
        self._halt.set()
        self.join(timeout=5)
        self._n = 0  # a last sample over a fresh tree walk
        self.sample()


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------

def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))]


def tail(values: list[float]) -> tuple[str, float] | None:
    """The highest whole percentile with at least ten samples above it."""
    n = len(values)
    if n < 20:
        return None
    q = int(100 * (1 - 10 / n))
    return f"p{q}", percentile(values, q)


def end_to_end(ops, loop_s: float, setup: dict, peak_mb: float) -> dict:
    ms = [o.ms for o in ops]
    return {
        "setup_s": (sum(setup.values()), "s"),
        "request_p50_ms": (statistics.median(ms), "ms"),
        "ops_per_s": (len(ops) / loop_s, "1/s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


def report(workload, ops, loop_s, setup, e2e, failures, env) -> list[str]:
    """The human-readable report: every end-to-end figure by name,
    split by reads and writes, with sample counts and the host state."""
    lines = [f"== {workload}: {len(ops)} requests in {loop_s:.2f} s "
             f"(nproc={env['nproc']}, loadavg={env['loadavg']}, "
             f"steal={env['steal_frac']:.4f})"]
    for kind in ("read", "write"):
        ms = [o.ms for o in ops if o.kind == kind]
        if not ms:
            continue
        t = tail(ms)
        tail_s = f"{t[1]:.1f} ms ({t[0]})" if t else "n/a (fewer than 20 samples)"
        lines.append(f"  {kind}_p50_ms   {statistics.median(ms):10.1f} ms  (n={len(ms)})")
        lines.append(f"  {kind}_tail_ms  {tail_s}")
    rows = sum(o.info.get("input_rows", 0) for o in ops)
    if rows:
        lines.append(f"  rows_per_s     {rows / loop_s:10.1f} rows/s")
    lines.append(f"  ops_per_s      {e2e['ops_per_s'][0]:10.3f} 1/s")
    bad = sum(not o.ok for o in ops)
    lines.append(f"  fail_frac      {bad / max(1, len(ops)):10.4f}  ({bad}/{len(ops)})")
    lines.append(f"  peak_rss_mb    {e2e['peak_rss_mb'][0]:10.1f} MB")
    parts = ", ".join(f"{k}={v:.2f}" for k, v in setup.items())
    lines.append(f"  setup_s        {e2e['setup_s'][0]:10.2f} s  ({parts})")
    lines.extend(f"  FAIL: {f}" for f in failures[:20])
    return lines


# ---------------------------------------------------------------------------
# Session and process lifetime
# ---------------------------------------------------------------------------

def configure_env(work: str) -> None:
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Python workers (mapInPandas) import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)


def start_session(work: str, trace: bool):
    from neulix_datahub_spark import get_session

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp {JVM_OPTS}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_session("perfbench", extra_conf=conf)


def stop_session(spark, sampler: RssSampler) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    started = set(process_tree(os.getpid())) | sampler.pids
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    left = {p for p in started if p != os.getpid()}
    deadline = time.time() + 15
    while left and time.time() < deadline:
        left = {p for p in left if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


# ---------------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the smoke test only")
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    from workloads import SIZES, WORKLOADS, Ctx
    from spans import Tracer, event_log_metrics

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work)
    sampler = RssSampler()
    sampler.start()
    cpu0 = cpu_times()
    load = open("/proc/loadavg").read().split()[:3]
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        session_s = time.perf_counter() - t
        tracer = Tracer(bool(args.trace))
        tracer.attach(spark)
        wl = WORKLOADS[args.workload](
            Ctx(spark, tracer, work, args.seed, SIZES[args.size]))
        setup = {"session_s": session_s, **wl.setup()}
        tracer.instrument_loads()  # the plan modules are imported by now
        t = time.perf_counter()
        ops = wl.run(args.seconds)
        loop_s = time.perf_counter() - t
        failures = wl.verify(ops)
        tracer.detach()
        stop_session(spark, sampler)
        spark = None
    finally:
        if spark is not None:
            stop_session(spark, sampler)
        sampler.stop()
    cpu1 = cpu_times()
    dt = [b - a for a, b in zip(cpu0, cpu1)]
    env = {"nproc": nproc(), "loadavg": " ".join(load),
           "steal_frac": dt[7] / max(1, sum(dt[:8])) if len(dt) > 7 else 0.0}
    e2e = end_to_end(ops, loop_s, setup, sampler.peak_mb)
    lines = report(args.workload, ops, loop_s, setup, e2e, failures, env)

    os.makedirs(os.path.join(WORK_ROOT, "results"), exist_ok=True)
    last = os.path.join(WORK_ROOT, "results", f"{args.workload}-untraced.json")
    if args.trace:
        groups = event_log_metrics(os.path.join(work, "eventlog"))
        layer = {"session.start_s": session_s,
                 **wl.layer_metrics(ops, groups)}
        selft = tracer.self_time_by_layer()
        n = max(1, len(ops))
        for lay in ("client", "plans", "sources", "operators", "streaming",
                    "observability", "spark"):
            layer[f"self_ms.{lay}"] = selft.get(lay, 0.0) * 1e3 / n
        spans_path = os.path.join(WORK_ROOT, "results",
                                  f"{args.workload}-seed{args.seed}-spans.jsonl")
        tracer.dump(spans_path)
        lines += layer_table(args.workload, layer)
        lines.append(f"  spans written to {os.path.relpath(spans_path, ROOT)}")
        lines += overhead(last, e2e)
        metrics = per_layer_metrics(layer)
    else:
        with open(last, "w") as f:
            json.dump({k: v[0] for k, v in e2e.items()}, f)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    shutil.rmtree(work, ignore_errors=True)
    bad = sum(not o.ok for o in ops)
    for ln in lines:
        print(ln)
    print(json.dumps({
        "correct": not failures and bad == 0,
        "attempted": len(ops),
        "failed": bad,
        "metrics": metrics,
    }))
    return 0


def _layer_defs() -> dict:
    with open(os.path.join(HERE, "layers.json")) as f:
        return json.load(f)


def per_layer_metrics(layer: dict) -> dict:
    """Every per-layer metric, 0 where the workload does not use the layer."""
    return {name: {"value": float(layer.get(name, 0.0)), "unit": d["unit"]}
            for name, d in _layer_defs().items()}


def layer_table(workload: str, layer: dict) -> list[str]:
    out = [f"== per-layer ({workload}; per request unless the unit says otherwise)"]
    for name, d in _layer_defs().items():
        if workload in d["workloads"]:
            out.append(f"  {name:38s} {layer.get(name, 0.0):14.3f} {d['unit']:6s}"
                       f" -> {d['moves']} on {', '.join(d['workloads'])}")
    return out


def overhead(last: str, e2e: dict) -> list[str]:
    if not os.path.exists(last):
        return ["  tracing overhead: run the same workload with --trace 0 first"]
    with open(last) as f:
        base = json.load(f)
    return ["  tracing overhead (traced - untraced): " + ", ".join(
        f"{k} {e2e[k][0] - base[k]:+.3f} {e2e[k][1]}" for k in base if k in e2e)]


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
