"""Benchmark entry point.

    python3 graftbench/run.py --workload cdc_drain --seed 1 --seconds 14 --trace 0

Runs one workload on ``local[<cpus>]`` in this process against tables
generated from ``--seed``, checks the outputs, and prints one JSON line
last: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (with
Spark's event log on and in-memory spans around package calls). The
line before it carries details: host state, the failed fraction, the
tail percentile used and any mismatches.

Everything the run writes goes to ``.graftbench/run-<pid>`` under the
checkout and is removed at exit; a traced run leaves its spans and
per-query records in ``.graftbench/out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "dynamodb_stream_processor_2_0_spark"
# Table scale per workload, chosen so a whole run (JVM start, cold pass,
# timed window, checks) fits the benchmark's per-run time budget. The
# driver-loop queries cost the same per job at any of these scales;
# cdc_drain stages only the first chunks of ``events``.
SF = {"cdc_drain": 0.01, "batch_iterative": 0.001}
WARMUP_TRIGGERS = 4
MIN_TIMED_TRIGGERS = 16
MIN_TIMED_PASSES = 2
SWEEP_CHUNKS = 8
WORKLOADS = ("cdc_drain", "batch_iterative")
FAULTS = ("drop_envelope", "wrong_output")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fault", choices=FAULTS, default=None,
                    help="corrupt one output before the check (self-test)")
    return ap.parse_args(argv)


def launch_env(scratch: Path, trace: bool) -> Path | None:
    """Point every temp/local/warehouse dir into ``scratch`` and, for a
    traced run, turn on an uncompressed, non-rolling event log."""
    for d in ("tmp", "local", "warehouse"):
        (scratch / d).mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": str(scratch / "tmp"),
        "SPARK_LOCAL_DIRS": str(scratch / "local"),
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={scratch / 'tmp'} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(cpus),
        # The session pins -Xms to this. At the 8g default, peak RSS is
        # how much of the pinned heap G1 happens to touch (4.4-6.6 GB
        # across identical runs); at 2g it tracks the program's memory.
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    conf = {
        "spark.sql.warehouse.dir": str(scratch / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = None
    if trace:
        log_dir = scratch / "eventlog"
        log_dir.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"
    return log_dir


class Run:
    """State shared by one workload run."""

    def __init__(self, args, scratch: Path, log_dir: Path | None):
        from graftbench.host import since_process_start
        from graftbench.trace import Tracer

        self.args = args
        self.scratch = scratch
        self.log_dir = log_dir
        self.tracer = Tracer(bool(args.trace))
        self.proc_start = time.time() - since_process_start()
        self.spark = None
        self.jvm_pid = None
        self.rss = None
        self.attempted = 0
        self.failed = 0
        self.msgs: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.detail: dict = {}
        self.windows: list[tuple[str, float, float]] = []  # event-log windows
        self.query_runs = []

    def start_spark(self):
        from graftbench.host import RssSampler
        from dynamodb_stream_processor_2_0_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("graftbench")
        self.layers["session.get_spark_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.rss = RssSampler(self.jvm_pid).start()

    def data(self) -> str:
        from graftbench import datagen

        with self.tracer.span("datagen.write_tables"):
            return datagen.write_tables(str(self.scratch / "data"), self.args.seed,
                                        SF[self.args.workload])

    def stop_spark(self):
        """Stop the session, then the JVM and its Python workers, and
        wait until every one of them has exited."""
        import subprocess

        from pyspark import SparkContext

        from graftbench.host import descendants, wait_gone

        if self.rss is not None:
            self.e2e["peak_rss_mb"] = self.rss.stop()
            self.detail["rss"] = {
                "jvm_hwm_mb": self.rss.jvm_hwm_kb / 1024,
                "workers_peak_mb": self.rss.workers_peak_kb / 1024,
                "workers_at_peak": self.rss.workers_at_peak,
            }
            self.rss = None
        if self.spark is None:
            return
        procs = descendants(self.jvm_pid)
        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            # the gateway JVM exits when its stdin closes
            gw.proc.stdin.close()
            try:
                gw.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        for pid in procs:
            wait_gone(pid)


# ---------------------------------------------------------------------------
# cdc_drain


def cdc_drain(run: Run) -> None:
    from graftbench import cdc
    from graftbench.host import HostWindow

    a = run.args
    run.start_spark()
    data = run.data()
    n_chunks = WARMUP_TRIGGERS + max(MIN_TIMED_TRIGGERS, int(a.seconds))
    t0 = time.perf_counter()
    with run.tracer.span("streaming.replay.stage_wire"):
        src = cdc.stage_wire(run.spark, data, str(run.scratch / "cdc"), a.seed, n_chunks)
    run.layers["streaming.replay.stage_s"] = time.perf_counter() - t0
    window = HostWindow()
    drain = cdc.run_drain(run.spark, src, str(run.scratch / "cdc"), run.tracer, a.inject_fault)
    run.detail["host"] = window.close()
    timed = [p for p in drain.progress if p["batch_id"] >= WARMUP_TRIGGERS]
    run.e2e["setup_s"] = timed[0]["start"] - run.proc_start
    run.windows.append(("drain", timed[0]["start"], time.time()))
    m = cdc.drain_metrics(drain, WARMUP_TRIGGERS)
    run.e2e.update({
        "op_p50_s": m["trigger_p50_s"],
        "op_tail_s": m["trigger_tail_s"],
        "throughput_per_s": m["records_per_s"],
    })
    run.detail.update({
        "records_per_s": m["records_per_s"], "trigger_p50_s": m["trigger_p50_s"],
        "trigger_tail_s": m["trigger_tail_s"], "tail_percentile": m["tail_percentile"],
        "tail_samples": m["triggers"], "warmup_triggers": WARMUP_TRIGGERS,
        "trigger_s": [p["duration_ms"].get("triggerExecution", 0) / 1000
                      for p in drain.progress],
        "drain_wall_s": drain.wall_s,
    })
    failed, msgs = cdc.check_drain(drain, data, str(run.scratch / "cdc"))
    run.attempted += n_chunks
    run.failed += failed
    run.msgs += msgs
    if a.trace:
        run.layers.update(cdc.layer_metrics(drain, cdc.count_envelopes(str(run.scratch / "cdc"))))
        run.layers["trace.op_p50_s"] = m["trigger_p50_s"]
        # the layers this workload does not exercise: one cold pass of
        # the driver-loop queries, then the isolated stream-layer passes
        _query_sweep(run, data)
        run.layers.update(cdc.isolated_layers(run.spark, src, str(run.scratch / "iso")))


# ---------------------------------------------------------------------------
# batch_iterative


def batch_iterative(run: Run) -> None:
    from graftbench import batch
    from graftbench.cdc import tail_percentile

    from dynamodb_stream_processor_2_0_spark.plans import registry

    a = run.args
    run.start_spark()
    data = run.data()
    registry._load()
    order = batch.seeded_order(batch.ITERATIVE, a.seed)
    results = batch.warmup_pass(run.spark, order, data, run.tracer)
    run.e2e["setup_s"] = time.time() - run.proc_start
    passes = _query_sweep(run, data, seconds=a.seconds, min_passes=MIN_TIMED_PASSES,
                          order=order)
    # an operation is one query run; the tail is over all of them
    walls = [r.t1 - r.t0 for r in run.query_runs]
    tail, pct = tail_percentile(walls)
    run.e2e.update({
        "op_p50_s": statistics.median(walls),
        "op_tail_s": tail,
        "throughput_per_s": len(walls) / sum(walls),
    })
    run.detail.update({
        "pass_s": [batch.pass_wall(p) for p in passes], "query_s": walls,
        "tail_percentile": pct, "tail_samples": len(walls),
    })
    failed, msgs = batch.oracle_pass(run.spark, order, data, run.tracer, results,
                                     a.inject_fault)
    run.attempted += len(order)
    run.failed += failed
    run.msgs += msgs
    if a.trace:
        run.layers["trace.op_p50_s"] = statistics.median(walls)
        _stream_sweep(run, data)


def _query_sweep(run: Run, data: str, seconds: float = 0.0, min_passes: int = 1,
                 order=None) -> list:
    """Timed passes over the driver-loop queries; returns the passes."""
    from graftbench import batch
    from graftbench.host import HostWindow

    from dynamodb_stream_processor_2_0_spark.plans import registry

    registry._load()
    order = order or batch.seeded_order(batch.ITERATIVE, run.args.seed)
    window = HostWindow()
    t0 = time.time()
    passes = batch.run_passes(run.spark, order, data, seconds, run.tracer, min_passes)
    run.detail.setdefault("host", window.close())
    run.windows.append(("queries", t0, time.time()))
    for p in passes:
        run.query_runs += p
        run.attempted += len(p)
        errors = [r.error for r in p if r.error]
        run.failed += len(errors)
        run.msgs += errors
    return passes


def _stream_sweep(run: Run, data: str) -> None:
    """A short drain plus the isolated stream-layer passes, so a traced
    batch run reports the streaming layers too."""
    from graftbench import cdc

    work = str(run.scratch / "sweep")
    t0 = time.perf_counter()
    src = cdc.stage_wire(run.spark, data, work, run.args.seed, SWEEP_CHUNKS)
    run.layers["streaming.replay.stage_s"] = time.perf_counter() - t0
    drain = cdc.run_drain(run.spark, src, work, run.tracer)
    failed, msgs = cdc.check_drain(drain, data, work)
    run.attempted += SWEEP_CHUNKS
    run.failed += failed
    run.msgs += msgs
    run.layers.update(cdc.layer_metrics(drain, cdc.count_envelopes(work)))
    run.layers.update(cdc.isolated_layers(run.spark, src, str(run.scratch / "iso")))


# ---------------------------------------------------------------------------
# traced-run post-processing


def finish_layers(run: Run) -> None:
    """Event-log counters per query and per workload window, host state
    and tracing cost; writes the span/run artifact."""
    from graftbench import batch, eventlog

    log = eventlog.parse(str(run.log_dir))
    run.layers.update(batch.query_layers(run.query_runs, log, batch.ITERATIVE))
    kind = "drain" if run.args.workload == "cdc_drain" else "queries"
    _, w0, w1 = next(w for w in run.windows if w[0] == kind)
    tot = eventlog.task_totals(log, eventlog.jobs_in(log, w0, w1))
    run.layers.update({
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.executor_run_s": tot["run_s"],
        "spark.executor_cpu_s": tot["cpu_s"],
        "spark.gc_s": tot["gc_s"],
        "spark.spill_bytes": tot["spill_bytes"],
        "spark.cpu_per_run": tot["cpu_s"] / max(tot["run_s"], 1e-9),
        "trace.instrumentation_s": run.tracer.bookkeeping_s,
        "trace.spans": len(run.tracer.spans),
        "trace.eventlog_bytes": log.size_bytes,
    })
    out = ROOT / ".graftbench" / "out"
    out.mkdir(parents=True, exist_ok=True)
    artifact = out / f"{run.args.workload}-seed{run.args.seed}-trace.json"
    artifact.write_text(json.dumps({
        "self_time_s": run.tracer.self_times(),
        "spans": run.tracer.spans,
        "query_runs": [vars(r) for r in run.query_runs],
        "layers": run.layers,
    }, indent=1, default=str))
    run.detail["trace_artifact"] = str(artifact.relative_to(ROOT))


def host_layers(run: Run) -> None:
    h = run.detail.get("host", {})
    run.layers.update({
        "host.cpus": len(os.sched_getaffinity(0)),
        "host.steal_frac": h.get("steal_frac", 0.0),
        "host.iowait_frac": h.get("iowait_frac", 0.0),
        "host.loadavg_1m": h.get("loadavg_1m", 0.0),
    })


# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file() or not (
        ROOT / "tests" / "oracle_harness.py"
    ).is_file():
        print(f"graftbench: {PACKAGE}/ and tests/oracle_harness.py must sit next to "
              "graftbench/ (run from a checkout of the repository)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    scratch = ROOT / ".graftbench" / f"run-{os.getpid()}"
    log_dir = launch_env(scratch, bool(args.trace))
    run = Run(args, scratch, log_dir)
    try:
        {"cdc_drain": cdc_drain, "batch_iterative": batch_iterative}[args.workload](run)
        if run.spark is not None:
            run.detail["cpus"] = run.spark.sparkContext.defaultParallelism
            run.detail["master"] = run.spark.sparkContext.master
        run.stop_spark()
        host_layers(run)
        if args.trace:
            finish_layers(run)
    finally:
        run.stop_spark()
        shutil.rmtree(scratch, ignore_errors=True)
    run.detail["failed_frac"] = run.failed / max(run.attempted, 1)
    run.detail["host"]["cpus"] = run.layers["host.cpus"]
    run.detail["mismatches"] = run.msgs[:10]
    metrics = run.layers if args.trace else run.e2e
    units = _layer_units() if args.trace else UNITS_E2E
    print(json.dumps({"graftbench": run.detail}, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


UNITS_E2E = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "throughput_per_s": "1/s",
}


def _layer_units() -> dict[str, str]:
    from graftbench.batch import ITERATIVE
    from graftbench.cdc import DURATION_KEYS

    u = {
        "session.get_spark_s": "s",
        "session.conf_changed": "count",
        "streaming.replay.stage_s": "s",
        "sources.dynamodb_stream.decode_parse_s": "s",
        "streaming.delivery_state.fn_ms_per_group": "ms",
        "streaming.delivery_state.batch_s": "s",
    }
    u.update({f"microbatch.{k}_ms": "ms" for k in DURATION_KEYS})
    u.update({
        "microbatch.fixed_ms": "ms",
        "state.rows_total": "count",
        "state.memory_bytes": "bytes",
        "state.commit_ms": "ms",
        "streaming.sinks.write_s": "s",
        "streaming.sinks.records_in": "count",
        "streaming.sinks.dedup_dropped": "count",
        "streaming.sinks.triggered": "count",
        "streaming.sinks.duplicates": "count",
        "streaming.sinks.envelopes": "count",
        "streaming.sinks.useful_ratio": "ratio",
    })
    for q in ITERATIVE:
        u.update({
            f"plans.{q}.build_s": "s",
            f"plans.{q}.exec_s": "s",
            f"spark.{q}.jobs": "count",
            f"spark.{q}.driver_gap_s": "s",
            f"spark.{q}.shuffle_bytes": "bytes",
        })
    u.update({
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.gc_s": "s",
        "spark.spill_bytes": "bytes",
        "spark.cpu_per_run": "ratio",
        "trace.op_p50_s": "s",
        "trace.instrumentation_s": "s",
        "trace.spans": "count",
        "trace.eventlog_bytes": "bytes",
        "host.cpus": "count",
        "host.steal_frac": "ratio",
        "host.iowait_frac": "ratio",
        "host.loadavg_1m": "count",
    })
    return u


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
