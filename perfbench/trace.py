"""Spans recorded from outside the program, and the Spark event log
joined to them.

A span is one call into a public function of one of the package's
modules: name, layer, start, end, parent span and cycle id.  Spans stay
in memory and are written when the run ends.  Spark jobs, stages and
tasks are attributed to the innermost span open when they were
submitted (calls run one at a time; micro-batch jobs run on the stream's
own thread, so their job group would not name the caller).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder.  With ``enabled`` false every method is a no-op,
    so the untimed end-to-end run pays nothing for it.

    One stack serves every thread: the stream's ``foreachBatch`` callback
    runs on its own thread while the caller blocks inside the
    ``run_streaming_tick`` span, so spans never interleave."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.cycle: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "cycle": self.cycle,
            "start_ms": time.time() * 1000.0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end_ms"] = time.time() * 1000.0

    def wrap(self, module, names: list[str], layer: str) -> None:
        """Replace ``module.<name>`` by a span-recording wrapper for the
        rest of the run (callers that import the function at call time
        see the wrapper).  No-op when disabled."""
        if not self.enabled:
            return
        for name in names:
            fn = getattr(module, name)

            @functools.wraps(fn)
            def traced(*a, _fn=fn, _name=f"{module.__name__}.{name}", **k):
                with self.span(_name, layer) as rec:
                    out = _fn(*a, **k)
                    if isinstance(out, (bool, int)):
                        rec["returned"] = int(out)
                    return out

            self._patched.append((module, name, fn))
            setattr(module, name, traced)

    def unwrap(self) -> None:
        for module, name, fn in reversed(self._patched):
            setattr(module, name, fn)
        self._patched.clear()


# --- Spark event log -------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Parse the one application log under ``log_dir`` (read after the
    session stopped) into jobs, stages with summed task metrics, block
    updates and executor memory peaks."""
    # Spark 4 writes a directory of rolled files, events_<n>_<app>
    (app,) = glob.glob(os.path.join(log_dir, "*"))
    files = sorted(
        glob.glob(os.path.join(app, "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    jobs: list[float] = []  # submission times
    stages: dict[tuple[int, int], dict] = {}
    blocks: list[dict] = []
    peaks = {"exec": 0, "storage": 0}
    last_ms = 0  # block updates carry no time: use the latest one seen
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            last_ms = ev["Submission Time"]
            jobs.append(last_ms)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            stages.setdefault(key, _new_stage())["submit_ms"] = info.get(
                "Submission Time"
            )
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            last_ms = max(last_ms, ev["Task Info"]["Finish Time"])
            _add_task(stages.setdefault(key, _new_stage()), ev)
        elif kind == "SparkListenerBlockUpdated":
            info = ev["Block Updated Info"]
            if info["Block ID"].startswith("rdd_"):  # persist/checkpoint
                blocks.append({
                    "t_ms": last_ms,
                    "bytes": info.get("Memory Size", 0) + info.get("Disk Size", 0),
                })
        elif kind == "SparkListenerStageExecutorMetrics":
            m = ev.get("Executor Metrics", {})
            peaks["exec"] = max(
                peaks["exec"],
                m.get("OnHeapExecutionMemory", 0) + m.get("OffHeapExecutionMemory", 0),
            )
            peaks["storage"] = max(
                peaks["storage"],
                m.get("OnHeapStorageMemory", 0) + m.get("OffHeapStorageMemory", 0),
            )
    return {"jobs": jobs, "stages": stages, "blocks": blocks, "peaks": peaks}


def _lines(files: list[str]):
    for path in files:
        with open(path, encoding="utf-8") as fh:
            yield from fh


def _new_stage() -> dict:
    return {
        "submit_ms": None, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
        "input_bytes": 0, "input_records": 0, "output_bytes": 0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "peak_exec_bytes": 0,
    }


def _add_task(st: dict, ev: dict) -> None:
    tm = ev.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    st["tasks"] += 1
    st["run_ms"] += tm.get("Executor Run Time", 0)
    st["cpu_ns"] += tm.get("Executor CPU Time", 0)
    st["gc_ms"] += tm.get("JVM GC Time", 0)
    st["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
    st["input_records"] += tm.get("Input Metrics", {}).get("Records Read", 0)
    st["output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    st["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    st["peak_exec_bytes"] = max(st["peak_exec_bytes"], tm.get("Peak Execution Memory", 0))


def attribute(spans: list[dict], log: dict) -> None:
    """Give every span the jobs and stages submitted while it was the
    innermost open span (``self_*``) and, summed over its subtree,
    while it was open at all (``jobs``, ``stages`` and the task
    metrics)."""
    order = sorted(spans, key=lambda s: s["start_ms"])

    def innermost(t_ms: float):
        best = None
        for s in order:
            if s["start_ms"] > t_ms:
                break
            if t_ms <= s.get("end_ms", float("inf")):
                best = s  # later start = deeper, since spans nest
        return best

    for s in spans:
        s["self_jobs"] = 0
        s["self_stages"] = []
    for t in log["jobs"]:
        s = innermost(t)
        if s is not None:
            s["self_jobs"] += 1
    for key, st in log["stages"].items():
        t = st["submit_ms"]
        if t is None:
            continue
        s = innermost(t)
        if s is not None:
            s["self_stages"].append(key)
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def total(s: dict) -> tuple[int, list]:
        jobs, stg = s["self_jobs"], list(s["self_stages"])
        for c in children.get(s["id"], []):
            j, k = total(c)
            jobs += j
            stg += k
        return jobs, stg

    fields = [k for k in _new_stage() if k not in ("submit_ms", "peak_exec_bytes")]
    for s in spans:
        jobs, stg = total(s)
        s["jobs"] = jobs
        s["stages"] = len(stg)
        for f in fields:
            s[f] = sum(log["stages"][k][f] for k in stg)
        s["self_stages"] = len(s["self_stages"])
