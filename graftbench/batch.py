"""``batch_iterative``: registered queries run to the ``noop`` sink in
seeded order, one job group per query per pass.

The query list is fixed here, not read from ``bench.py``, so later
edits there cannot change what this benchmark measures.
"""

from __future__ import annotations

import dataclasses
import random
import statistics
import time
from dataclasses import dataclass

# Driver-loop queries: eager checkpoints and 21-42 Spark jobs each.
ITERATIVE = (
    "graph_shortest_path_bfs",
    "graph_personalized_pagerank",
    "graph_label_propagation",
    "graph_betweenness_seeded",
    "ml_gini_decision_stump",
)


@dataclass
class QueryRun:
    name: str
    pass_no: int
    group: str
    t0: float  # epoch seconds, comparable with event-log times
    t1: float
    build_s: float
    exec_s: float
    conf_changed: int
    tracker_jobs: int
    error: str | None = None


def seeded_order(names, seed: int) -> list[str]:
    order = list(names)
    random.Random(seed).shuffle(order)
    return order


def warmup_pass(spark, names, data_dir: str, tracer) -> dict:
    """One untimed pass (JIT, codegen, file-listing caches). Each result
    is kept, locally checkpointed, for the oracle check after the timed
    passes; a query that fails here is left out and re-run by that check."""
    from dynamodb_stream_processor_2_0_spark.plans import registry

    results = {}
    for name in names:
        try:
            with tracer.span(f"warmup.{name}"):
                df = registry.REGISTRY[name].fn(spark, data_dir)
                results[name] = df.localCheckpoint(eager=True)
        except Exception:
            pass
    return results


def oracle_pass(spark, names, data_dir: str, tracer, results: dict,
                fault: str | None = None):
    """Check every query's warm-up result against its DuckDB oracle.
    Runs after the timed passes, so DuckDB's time is in no metric.
    Returns (failed, msgs)."""
    from pyspark.sql import functions as F

    from dynamodb_stream_processor_2_0_spark.plans import registry
    from tests.oracle_harness import compare_query

    failed, msgs = 0, []
    for i, name in enumerate(names):
        spec = registry.REGISTRY[name]
        if name in results:
            spec = dataclasses.replace(spec, fn=lambda s, d, r=results[name]: r)
        if fault == "wrong_output" and i == 0:
            # the benchmark's own tests: one query returns no rows
            spec = dataclasses.replace(
                spec, fn=lambda s, d, f=spec.fn: f(s, d).where(F.lit(False)))
        try:
            with tracer.span(f"oracle.{name}"):
                compare_query(spark, spec, data_dir)
        except Exception as exc:  # a mismatch or a crash both fail the op
            failed += 1
            msgs.append(f"{name}: {str(exc).splitlines()[0][:200]}")
    for df in results.values():
        df.unpersist()
    return failed, msgs


def _conf(spark) -> dict[str, str]:
    return dict(spark.conf.getAll)


def run_query(spark, name: str, data_dir: str, pass_no: int, tracer) -> QueryRun:
    """One timed query: plan build (``spec.fn``, incl. eager
    checkpoints) and the action, under a job group unique to this pass."""
    from dynamodb_stream_processor_2_0_spark.plans import registry

    sc = spark.sparkContext
    group = f"graftbench.{name}.pass{pass_no}"
    sc.setJobGroup(group, name)
    before = _conf(spark)
    error = None
    t0 = time.time()
    p0 = time.perf_counter()
    p1 = p0
    try:
        with tracer.span(f"plans.{name}"):
            with tracer.span(f"plans.{name}.build"):
                df = registry.REGISTRY[name].fn(spark, data_dir)
            p1 = time.perf_counter()
            with tracer.span(f"plans.{name}.exec"):
                df.write.mode("overwrite").format("noop").save()
    except Exception as exc:
        error = f"{name}: {str(exc).splitlines()[0][:200]}"
    p2 = time.perf_counter()
    t1 = time.time()
    after = _conf(spark)
    changed = sum(1 for k in before.keys() | after.keys() if before.get(k) != after.get(k))
    sc.setLocalProperty("spark.jobGroup.id", None)
    return QueryRun(
        name=name, pass_no=pass_no, group=group, t0=t0, t1=t1,
        build_s=p1 - p0, exec_s=p2 - p1, conf_changed=changed,
        tracker_jobs=len(sc.statusTracker().getJobIdsForGroup(group)), error=error,
    )


def run_passes(spark, names, data_dir: str, seconds: float, tracer,
               min_passes: int) -> list[list[QueryRun]]:
    """Full passes over ``names``: at least ``min_passes``, then more
    while less than ``seconds`` have gone by."""
    passes: list[list[QueryRun]] = []
    start = time.perf_counter()
    while len(passes) < min_passes or time.perf_counter() - start < seconds:
        k = len(passes) + 1
        passes.append([run_query(spark, n, data_dir, k, tracer) for n in names])
    return passes


def pass_wall(runs: list[QueryRun]) -> float:
    return runs[-1].t1 - runs[0].t0


def query_layers(runs: list[QueryRun], log, names) -> dict:
    """Per-query build/exec split and Spark job counters (medians over
    the runs of each query)."""
    from graftbench import eventlog

    med = statistics.median
    out: dict[str, float] = {}
    for name in names:
        mine = [r for r in runs if r.name == name]
        out[f"plans.{name}.build_s"] = med(r.build_s for r in mine)
        out[f"plans.{name}.exec_s"] = med(r.exec_s for r in mine)
        jobs = [eventlog.jobs_in(log, r.t0, r.t1) for r in mine]
        out[f"spark.{name}.jobs"] = med(len(js) for js in jobs)
        out[f"spark.{name}.driver_gap_s"] = med(
            (r.t1 - r.t0) - eventlog.union_s(js) for r, js in zip(mine, jobs))
        out[f"spark.{name}.shuffle_bytes"] = med(
            eventlog.task_totals(log, js)["shuffle_bytes"] for js in jobs)
    out["session.conf_changed"] = sum(r.conf_changed for r in runs)
    return out
