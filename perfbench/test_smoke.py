"""Smoke test of the benchmark command on tiny inputs (the sf 0.001 sync
tables; a 200-document archive and two 100-document ticks).

    python3 -m pytest perfbench/test_smoke.py -q

Takes about eight minutes on four cores: each case starts its own Spark
session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
with open(os.path.join(REPO, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# per-layer metrics that must read above 0 on each workload: the layers
# NOTES.md's table marks for it (spill and the memory peaks may be 0)
EXERCISED = {
    "sync_cycle": [
        "plans.build_s", "plans.build_jobs",
        "operators.shuffle_read_bytes", "operators.shuffle_write_bytes",
        "sources.input_bytes", "sources.input_records", "sources.output_bytes",
        "sources.files_written", "sources.write_s",
        "python.worker_cpu_s", "python.local_iterator_s",
    ],
    "curation_stream": [
        "llm.exec_s", "llm.materialized_bytes",
        "streaming.tick_jobs", "streaming.driver_gap_s",
        "stores.bytes", "stores.live_partitions", "stores.compactions",
        "stores.rewrite_bytes",
        "sources.input_bytes", "sources.input_records", "sources.output_bytes",
        "sources.files_written",
    ],
}
SESSION = [
    "session.start_s", "session.jobs", "session.stages", "session.tasks",
    "session.executor_busy_s", "session.executor_cpu_s", "session.peak_rss_mb",
    "trace.cycle_s",
]


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny", "--cycles", "2"],
        cwd=REPO, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_prints_every_metric_with_its_unit_and_no_error(workload, trace):
    res = _run(workload, trace)
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 2
    if trace:
        zero = [m for m in EXERCISED[workload] + SESSION
                if not res["metrics"][m]["value"] > 0]
        assert not zero, f"layer metrics read 0 on {workload}: {zero}"
    else:
        assert res["metrics"]["pass_rate"]["value"] == 1.0
        for name in ("setup_s", "cycle_s", "stored_bytes_per_input_byte"):
            assert res["metrics"][name]["value"] > 0


def test_kept_counts_are_recorded_for_the_smoke_seed():
    """The stream's kept-count check runs on the smoke test's seed."""
    with open(os.path.join(HERE, "data", "kept_counts.json")) as fh:
        kept = json.load(fh)
    assert {f"seed=3 size=tiny tick={i}" for i in range(2)} <= set(kept)


def test_wrong_oracle_hash_makes_cycles_fail():
    from perfbench import run

    def break_oracle(w):
        w.expected["tree_depths"] = "0" * 64

    res = run.measure(
        "sync_cycle", 3, 1, False, "tiny",
        out_root=os.path.join(HERE, "out", "smoke"),
        tamper=break_oracle, cycles=2,
    )
    assert res["failed"] == res["attempted"] == 2
    assert res["metrics"]["pass_rate"]["value"] == 0.0
    assert any("tree_depths" in e for e in res["errors"])


def test_wrong_kept_count_makes_ticks_fail():
    from perfbench import run

    def break_kept_counts(w):
        for i in range(2):
            w.kept_counts[f"seed=3 size=tiny tick={i}"] = -1

    res = run.measure(
        "curation_stream", 3, 1, False, "tiny",
        out_root=os.path.join(HERE, "out", "smoke"),
        tamper=break_kept_counts, cycles=2,
    )
    assert res["failed"] == res["attempted"] == 2
    assert all("expected for this seed" in e for e in res["errors"])
