#!/usr/bin/env python3
"""Benchmark command: one closed-loop workload in one process.

    python3 perfbench/run.py --workload sync_cycle --seed 1 --seconds 30 --trace 0

Run from the repository root.  Sets up (Spark session on
``local[<cores>]``, inputs, oracle hashes, store priming), then
runs cycles back to back for ``--seconds``, checking each cycle's
output outside the timed region.  The first cycle is not discarded: a
scheduled deployment starts a fresh process for every cycle, so the
first cycle of a process is the one it pays.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  A traced run also writes its spans, the
per-cycle layer numbers and the Spark event log under
``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_env(root: str) -> None:
    """Cores as Tier-1 counts them; every scratch file of Spark, the JVM
    and Python inside this run's directory."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} -XX:-UsePerfData"
    )


def session_conf(root: str, trace: bool) -> dict[str, str]:
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        log_dir = os.path.join(root, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
            "spark.eventLog.logStageExecutorMetrics": "true",
        })
    return conf


def stop_jvm() -> None:
    """End the Spark JVM this process launched, and its Python workers,
    and wait for it to exit: the JVM quits when its standard input
    closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def measure(
    workload: str,
    seed: int,
    seconds: float,
    trace: bool,
    size: str = "full",
    out_root: str | None = None,
    tamper=None,
    cycles: int | None = None,
) -> dict:
    """Run one workload and return the result object.  ``cycles``, when
    given, replaces the time limit by an exact count of measured cycles
    (the smoke test's fixed-size runs).  ``tamper`` is called with the
    workload after set-up (the smoke test uses it to break an expected
    oracle hash)."""
    sys.path.insert(0, REPO)
    tag = f"{workload}-seed{seed}-trace{int(trace)}"
    root = os.path.join(out_root or os.path.join(HERE, "out"), tag)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    prepare_env(root)

    from experts_etl_spark.session import get_spark
    from perfbench import layers
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    tracer = Tracer(trace)
    t = time.time()
    spark = get_spark("perfbench", extra_conf=session_conf(root, trace))
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.time() - t
    w = WORKLOADS[workload](spark, os.path.join(root, "work"), seed, tracer, size)
    probe = layers.Probe(spark, tracer, w.out)
    attempted = failed = 0
    times: list[float] = []
    errors: list[str] = []

    def one(i: int) -> float | None:
        nonlocal attempted, failed
        attempted += 1
        tracer.cycle = i
        try:
            w.land_batch(i)
            probe.before(i)
            t0 = time.perf_counter()
            with tracer.span(f"cycle{i}", "cycle"):
                w.cycle(i)
            dt = time.perf_counter() - t0
            probe.after(i)
            w.check(i)
            return dt
        except Exception:  # a failed cycle is counted, not fatal
            failed += 1
            errors.append(traceback.format_exc())
            return None

    try:
        probe.wrap_modules()
        w.setup()
        w.mark_primed()
        if tamper is not None:
            tamper(w)
        setup_s = process_age_s()
        deadline = time.perf_counter() + seconds
        i = 0
        while i < cycles if cycles is not None else time.perf_counter() < deadline:
            dt = one(i)
            if dt is not None:
                times.append(dt)
            i += 1
        stored = w.stored_bytes() / w.input_bytes
        extra = probe.finish(w, times)
    finally:
        tracer.unwrap()
        spark.stop()
        stop_jvm()
    result = {
        "correct": failed == 0 and bool(times),
        "attempted": attempted,
        "failed": failed,
    }
    if trace:
        per_layer = layers.per_layer(
            tracer.spans, os.path.join(root, "eventlog"), extra, range(i), start_s,
        )
        with open(os.path.join(root, "trace.json"), "w") as fh:
            json.dump({"spans": tracer.spans, "per_layer": per_layer,
                       "cycle_s": times, "errors": errors}, fh, indent=1)
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    else:
        result["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cycle_s": {"value": statistics.median(times) if times else 0.0, "unit": "s"},
            "stored_bytes_per_input_byte": {"value": stored, "unit": "ratio"},
            "pass_rate": {"value": (attempted - failed) / attempted, "unit": "ratio"},
        }
    result["cycles"] = len(times)
    result["inputs"] = w.inputs_note
    result["errors"] = [e.splitlines()[-1] for e in errors]
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["sync_cycle", "curation_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input sizes; tiny is for the smoke test")
    ap.add_argument("--cycles", type=int, default=None,
                    help="run exactly this many measured cycles instead")
    args = ap.parse_args(argv)
    res = measure(args.workload, args.seed, args.seconds, bool(args.trace),
                  args.size, cycles=args.cycles)
    for e in res.pop("errors"):
        print("cycle failed:", e, file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "cycles": res.pop("cycles"), "inputs": res.pop("inputs")}))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
