"""In-memory span tracer for the traced run.

A span wraps one call into a layer of the package. While a span is open,
every Spark job the calling thread triggers carries the span's id as its
job group, so task metrics from the Spark event log can be charged to
the span afterwards; lazy work therefore lands on the span whose call
ran the action. A py4j call counter and the calling thread's CPU clock
(so the memory sampler's thread is not charged) are read at span
boundaries. With tracing off every method is a no-op, so the
timed runs pay nothing.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

import py4j.clientserver
import py4j.java_gateway

# span-name prefix -> layer (the package's modules, plus the engine)
LAYERS = {
    "session": "session",
    "sources": "sources",
    "plans": "plans",
    "operators": "operators",
    "search_index": "operators",
    "ivfpq_index": "operators",
    "streaming": "streaming",
    "observability": "observability",
    "spark": "spark",
    "op": "client",
}


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._py4j = 0
        self._counting = True
        self._patched: list[tuple[object, str, object]] = []
        self._sc = None

    # -- lifecycle ---------------------------------------------------------

    def attach(self, spark) -> None:
        """Start counting py4j calls and tagging jobs on ``spark``."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        tracer = self

        for cls in (py4j.clientserver.ClientServerConnection,
                    py4j.java_gateway.GatewayConnection):
            orig = cls.send_command

            def counted(conn, command, *a, _orig=orig, **kw):
                if tracer._counting:
                    tracer._py4j += 1
                return _orig(conn, command, *a, **kw)

            self._patch(cls, "send_command", counted)

    def instrument_loads(self) -> None:
        """Wrap ``load_table`` as seen by every loaded plan module, so the
        registry's own table loads get ``sources.load_table`` spans."""
        if not self.enabled:
            return
        from neulix_datahub_spark.sources import tables

        orig = tables.load_table

        def traced(*a, **kw):
            with self.span("sources.load_table"):
                return orig(*a, **kw)

        for name, mod in list(sys.modules.items()):
            if name.startswith("neulix_datahub_spark.plans") and getattr(
                mod, "load_table", None
            ) is orig:
                self._patch(mod, "load_table", traced)

    def _patch(self, owner, attr, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def detach(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- spans -------------------------------------------------------------

    def _set_group(self, span: dict | None) -> None:
        self._counting = False
        try:
            if span is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self._sc.setJobGroup(span["group"], span["name"])
        finally:
            self._counting = True

    @contextmanager
    def span(self, name: str, req: int | None = None, **tags):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = {
            "id": sid, "name": name,
            "layer": LAYERS.get(name.split(".", 1)[0], "other"),
            "parent": parent["id"] if parent else None,
            "req": req if req is not None else (parent["req"] if parent else None),
            "group": f"pb-span-{sid}", **tags,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s["py4j0"], s["cpu0"] = self._py4j, time.thread_time()
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            s["py4j"] = self._py4j - s.pop("py4j0")
            s["cpu_ms"] = (time.thread_time() - s.pop("cpu0")) * 1e3
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # -- derived figures ---------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def descendants(self, root: dict) -> list[dict]:
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s)
        out, todo = [], [root["id"]]
        while todo:
            for k in kids[todo.pop()]:
                out.append(k)
                todo.append(k["id"])
        return out

    def self_time_by_layer(self) -> dict[str, float]:
        """Per layer, over the timed requests (``op.*`` spans with a
        request id >= 0) and everything under them: summed span duration
        minus the part of each span's interval its direct children cover
        (seconds)."""
        kids = defaultdict(list)
        for s in self.spans:
            if "end" in s:
                kids[s["parent"]].append(s)
        timed = [s for s in self.spans if s["name"].startswith("op.")
                 and s["parent"] is None and (s["req"] or 0) >= 0 and "end" in s]
        out: dict[str, float] = defaultdict(float)
        for s in timed + [d for r in timed for d in self.descendants(r)]:
            covered, cur_end = 0.0, s["start"]
            for k in sorted(kids[s["id"]], key=lambda k: k["start"]):
                lo, hi = max(k["start"], cur_end), min(k["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["layer"]] += (s["end"] - s["start"]) - covered
        return dict(out)


# ---------------------------------------------------------------------------
# Spark event log -> per-job-group task metrics
# ---------------------------------------------------------------------------

_TASK_KEYS = (
    "tasks", "run_ms", "cpu_ms", "gc_ms", "sched_delay_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "input_bytes", "peak_exec_mem",
)


def event_log_metrics(log_dir: str) -> dict[str, dict]:
    """Parse every event log under ``log_dir`` and total the task
    metrics per job group. Stages and files read come from stage
    completion events; a stage is charged to the group of the first job
    that lists it (a reused stage runs no tasks in later jobs)."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    for fn in sorted(os.listdir(log_dir)):  # one uncompressed log per session
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or ""
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stage_group.get(info["Stage ID"], "")
                    groups[g]["stages"] += 1
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") == "number of files read":
                            groups[g]["files_read"] += float(acc.get("Value") or 0)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    g = stage_group.get(ev["Stage ID"], "")
                    info = ev["Task Info"]
                    dur = info["Finish Time"] - info["Launch Time"]
                    run = m["Executor Run Time"]
                    t = groups[g]
                    t["tasks"] += 1
                    t["run_ms"] += run
                    t["cpu_ms"] += m["Executor CPU Time"] / 1e6
                    t["gc_ms"] += m["JVM GC Time"]
                    t["sched_delay_ms"] += max(
                        0, dur - run - m["Executor Deserialize Time"]
                        - m["Result Serialization Time"]
                        - info.get("Getting Result Time", 0)
                    )
                    sw = m.get("Shuffle Write Metrics", {})
                    sr = m.get("Shuffle Read Metrics", {})
                    t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    t["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    )
                    t["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    t["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    t["peak_exec_mem"] = max(t["peak_exec_mem"], m["Peak Execution Memory"])
    return groups


def charge(tracer: Tracer, groups: dict[str, dict], root: dict) -> dict[str, float]:
    """Total the Spark metrics of every job group under ``root``."""
    out: dict[str, float] = defaultdict(float)
    for s in [root, *tracer.descendants(root)]:
        g = groups.get(s["group"])
        if not g:
            continue
        for k, v in g.items():
            if k == "peak_exec_mem":
                out[k] = max(out[k], v)
            else:
                out[k] += v
    return out
