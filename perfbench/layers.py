"""Per-layer numbers of a traced run.

Layers are the package's modules.  Every number is per measured cycle
(the median over the run's cycles) unless it describes the state at the
end of the run (store sizes, memory peaks).  The table in
``perfbench/NOTES.md`` says which end-to-end metric each should move,
on which workload.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import trace

# name -> unit, in the order BENCHMARK.json lists them
METRICS = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "llm.exec_s": "s",
    "llm.materialized_bytes": "bytes",
    "streaming.tick_jobs": "count",
    "streaming.driver_gap_s": "s",
    "stores.bytes": "bytes",
    "stores.live_partitions": "count",
    "stores.compactions": "count",
    "stores.rewrite_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "sources.input_bytes": "bytes",
    "sources.input_records": "count",
    "sources.output_bytes": "bytes",
    "sources.files_written": "count",
    "sources.write_s": "s",
    "session.start_s": "s",
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.executor_busy_s": "s",
    "session.executor_cpu_s": "s",
    "session.gc_s": "s",
    "session.peak_rss_mb": "MB",
    "session.peak_exec_memory_mb": "MB",
    "session.peak_storage_memory_mb": "MB",
    "python.worker_cpu_s": "s",
    "python.local_iterator_s": "s",
    "trace.cycle_s": "s",
}


def _proc_stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
        except OSError:
            continue
    return out


class Probe:
    """Out-of-process counters around each cycle of a traced run: CPU of
    the pyspark worker processes (from /proc) and files the cycle
    wrote.  Untraced, every method does nothing."""

    def __init__(self, spark, tracer, out_dir: str):
        self.tr = tracer
        self.out_dir = out_dir
        self.cores = int(spark.sparkContext.defaultParallelism)
        self.jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        self.per_cycle: dict[int, dict] = {}
        self._t0: dict[int, tuple[float, float]] = {}

    def wrap_modules(self) -> None:
        """Spans around the public functions the tick reaches."""
        from experts_etl_spark.streaming import ann_index, semantic, stores, tick

        self.tr.wrap(tick, ["curation_tick"], "llm")
        self.tr.wrap(stores, ["maybe_compact_store", "retain_partitions", "read_store"],
                     "streaming.stores")
        self.tr.wrap(semantic, ["resolve_srp_width", "maybe_rebucket_srp_store"],
                     "streaming.stores")
        self.tr.wrap(ann_index, ["maybe_rebuild_pq_index"], "streaming.stores")

    def worker_cpu_s(self) -> float:
        """User+system CPU of the pyspark daemon and its workers,
        including workers that already exited."""
        hz = os.sysconf("SC_CLK_TCK")
        total = 0
        stack = _children(self.jvm_pid)
        while stack:
            pid = stack.pop()
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    if b"pyspark" not in fh.read():
                        continue
                f = _proc_stat(pid)
                stack += _children(pid)
            except OSError:
                continue  # exited between listing and reading
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        return total / hz

    def before(self, i: int) -> None:
        if self.tr.enabled:
            self._t0[i] = (time.time(), self.worker_cpu_s())

    def after(self, i: int) -> None:
        if not self.tr.enabled:
            return
        t0, cpu0 = self._t0.pop(i)
        files = 0
        if os.path.isdir(self.out_dir):
            for root, _, names in os.walk(self.out_dir):
                for n in names:
                    p = os.path.join(root, n)
                    if not n.startswith(".") and os.path.getmtime(p) >= t0:
                        files += 1
        self.per_cycle[i] = {
            "python.worker_cpu_s": self.worker_cpu_s() - cpu0,
            "sources.files_written": files,
        }

    def finish(self, w, times: list[float]) -> dict:
        """End-of-run state, read before the session stops."""
        if not self.tr.enabled:
            return {}
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            hwm = next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
        extra = {
            "session.peak_rss_mb": hwm / 1024.0,
            "trace.cycle_s": statistics.median(times) if times else 0.0,
            "per_cycle": self.per_cycle,
            "cores": self.cores,
        }
        extra.update({f"stores.{k}": v for k, v in w.store_stats().items()})
        return extra


def _dur_s(s: dict) -> float:
    return (s["end_ms"] - s["start_ms"]) / 1000.0


def per_layer(spans, log_dir: str, extra: dict, cycles, start_s: float) -> dict:
    """``{metric: (value, unit)}`` for every name in :data:`METRICS`."""
    log = trace.read_event_log(log_dir)
    trace.attribute(spans, log)
    cycles = list(cycles)
    cores = extra["cores"]
    by_cycle: dict[int, list[dict]] = {c: [] for c in cycles}
    for s in spans:
        if s["cycle"] in by_cycle:
            by_cycle[s["cycle"]].append(s)
    rows = []
    for c in cycles:
        ss = by_cycle[c]
        top = [s for s in ss if s["layer"] == "cycle"]
        if not top:
            continue
        cyc = top[0]
        build = [s for s in ss if s.get("kind") == "build"]
        ticks = [s for s in ss if s["name"] == "run_streaming_tick"]
        llm = [s for s in ss if s["layer"] == "llm"]
        sinks = [s for s in ss if s["layer"] == "sources"]
        xml = [s for s in sinks if s["name"] == "person_cycle_xml"]
        folds = [s for s in ss if s["name"].endswith(".maybe_compact_store")
                 and s.get("returned")]
        mat = sum(b["bytes"] for b in log["blocks"]
                  if cyc["start_ms"] <= b["t_ms"] <= cyc["end_ms"])
        row = {
            "plans.build_s": sum(map(_dur_s, build)),
            "plans.build_jobs": sum(s["jobs"] for s in build),
            "llm.exec_s": sum(map(_dur_s, llm)),
            "llm.materialized_bytes": mat,
            "streaming.tick_jobs": sum(s["jobs"] for s in ticks),
            "streaming.driver_gap_s": sum(
                _dur_s(s) - s["run_ms"] / 1000.0 / cores for s in ticks
            ),
            "stores.compactions": len(folds),
            "stores.rewrite_bytes": sum(s["output_bytes"] for s in folds),
            "operators.shuffle_read_bytes": cyc["shuffle_read_bytes"],
            "operators.shuffle_write_bytes": cyc["shuffle_write_bytes"],
            "operators.spill_bytes": cyc["spill_bytes"],
            "sources.input_bytes": cyc["input_bytes"],
            "sources.input_records": cyc["input_records"],
            "sources.output_bytes": cyc["output_bytes"],
            "sources.write_s": sum(map(_dur_s, sinks)),
            "session.jobs": cyc["jobs"],
            "session.stages": cyc["stages"],
            "session.tasks": cyc["tasks"],
            "session.executor_busy_s": cyc["run_ms"] / 1000.0,
            "session.executor_cpu_s": cyc["cpu_ns"] / 1e9,
            "session.gc_s": cyc["gc_ms"] / 1000.0,
            "python.local_iterator_s": sum(map(_dur_s, xml)),
            **extra["per_cycle"].get(c, {}),
        }
        rows.append(row)
    out = {}
    for name, unit in METRICS.items():
        if name in ("stores.compactions", "stores.rewrite_bytes"):
            value = sum(r[name] for r in rows)  # per run: folds are rare
        elif rows and name in rows[0]:
            value = statistics.median(r[name] for r in rows)
        elif name == "session.start_s":
            value = start_s
        elif name == "session.peak_exec_memory_mb":
            # executor-level peak when Spark samples it, else the largest task's
            task_peak = max((st["peak_exec_bytes"] for st in log["stages"].values()), default=0)
            value = max(log["peaks"]["exec"], task_peak) / 2**20
        elif name == "session.peak_storage_memory_mb":
            value = log["peaks"]["storage"] / 2**20
        else:
            value = extra.get(name, 0)
        out[name] = (value, unit)
    return out
