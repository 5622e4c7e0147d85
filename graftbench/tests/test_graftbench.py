"""The benchmark's own tests.

    python -m pytest graftbench/tests -q

Fast unit checks of the measurement helpers, then short runs of the
real command at each workload's own scale (``--seconds 1``, 1-2 min
each): every named metric is printed with its unit, and a corrupted
result is counted as failed.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from graftbench import cdc, datagen, eventlog  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def run_bench(workload: str, trace: int, *extra: str, cwd: Path = ROOT):
    cmd = [*BENCH["command"], "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def last_json(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


# --- helpers ---------------------------------------------------------------


def test_tail_percentile_keeps_enough_samples_above():
    xs = [float(i) for i in range(1, 21)]
    value, pct = cdc.tail_percentile(xs, beyond=3)
    assert pct == 85 and value == 17.0
    assert sum(x > value for x in xs) >= 3
    assert cdc.tail_percentile([1.0, 2.0], beyond=3) == (2.0, 100)


def test_union_of_job_spans_merges_overlaps():
    jobs = [eventlog.Job(1, None, 0.0, 2.0), eventlog.Job(2, None, 1.0, 3.0),
            eventlog.Job(3, None, 5.0, 6.0)]
    assert eventlog.union_s(jobs) == pytest.approx(4.0)


def test_event_log_lines_become_job_and_task_counters(tmp_path):
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 500, "Executor CPU Time": 250_000_000,
            "JVM GC Time": 10, "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 1,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(x) for x in lines) + "\n")
    log = eventlog.parse(str(tmp_path))
    jobs = eventlog.jobs_in(log, 0.5, 1.5)
    assert [j.group for j in jobs] == ["g"] and jobs[0].end_s == 3.0
    tot = eventlog.task_totals(log, jobs)
    assert tot["tasks"] == 1 and tot["stages"] == 1
    assert tot["cpu_s"] == pytest.approx(0.25) and tot["spill_bytes"] == 8
    assert tot["shuffle_bytes"] == 64


def test_generated_tables_depend_only_on_the_seed():
    a = datagen.build_tables(5, 0.001)
    b = datagen.build_tables(5, 0.001)
    c = datagen.build_tables(6, 0.001)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["lineitem"].equals(c["lineitem"])


def test_without_the_package_it_fails_fast_and_prints_no_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench("cdc_drain", 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


# --- small-scale runs of the real command ----------------------------------


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_every_metric_with_its_unit(workload, trace):
    out = last_json(run_bench(workload, trace))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    wanted = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in out["metrics"].items()}
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())


@pytest.mark.parametrize(
    "workload,fault",
    [("cdc_drain", "drop_envelope"), ("batch_iterative", "wrong_output")],
)
def test_corrupted_output_counts_as_failed(workload, fault):
    out = last_json(run_bench(workload, 0, "--inject-fault", fault))
    assert out["failed"] > 0 and not out["correct"]
