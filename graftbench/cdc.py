"""``cdc_drain``: the reference's own workload as a Structured Streaming
query, drained closed-loop one wire chunk per trigger.

Stages (all package functions, composed here the way a deployment
would): ``decode_records`` + ``parse_new_image`` (change-type filter
and typed parse) -> eventID dedup -> ``apply_delivery_state`` keyed by
(user, change type) as decoded from the wire -> ``sinks.observed`` ->
``foreachBatch`` envelope sink (``sinks.write_envelopes``).

The wire chunks are rendered once at set-up with
``events_as_stream_json`` and split in (ts, event_id) order; a seeded
share of records is re-sent in a later chunk, modelling the at-least-once
redelivery of DynamoDB Streams + Lambda. A manifest of which record
arrived in which chunk lets DuckDB compute every trigger's expected
output independently of Spark.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Records per wire chunk (= per trigger): the default BatchSize of a
# Lambda event source mapping on a DynamoDB stream (1 to 10,000
# allowed). The reference leaves the batch size to its deployment, so an
# unconfigured deployment gets this.
CHUNK_RECORDS = 100
# Redelivery is an assumption, not a documented rate: Lambda promises
# at-least-once processing (a failed batch is retried whole), so this
# share of records is re-sent 1 to MAX_REDELIVERY_LAG chunks later.
REDELIVER_FRAC = 0.05
MAX_REDELIVERY_LAG = 3
# a tail percentile needs this many triggers above it to mean anything
TAIL_BEYOND = 3
DURATION_KEYS = (
    "latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
)


@dataclass
class Drain:
    """What one availableNow drain measured."""

    wall_s: float
    progress: list[dict] = field(default_factory=list)
    sink_s: list[float] = field(default_factory=list)


def stage_wire(spark, data_dir: str, out_dir: str, seed: int, n_chunks: int) -> str:
    """Render ``events`` to wire JSON and write the first ``n_chunks`` x
    ``CHUNK_RECORDS`` records in (ts, event_id) order as single-file
    chunks, plus redelivered copies and the arrival manifest. Returns
    the chunk directory."""
    from dynamodb_stream_processor_2_0_spark.sources.catalog import load_table
    from dynamodb_stream_processor_2_0_spark.sources.dynamodb_stream import (
        events_as_stream_json,
    )

    wire = (
        events_as_stream_json(load_table(spark, data_dir, "events"))
        .toPandas()
        .merge(
            pq.read_table(os.path.join(data_dir, "events.parquet"),
                          columns=["event_id", "ts"]).to_pandas(),
            on="event_id",
        )
        .sort_values(["ts", "event_id"], kind="stable")
        .reset_index(drop=True)
    )
    n = n_chunks * CHUNK_RECORDS
    if len(wire) < n:
        raise ValueError(f"{n_chunks} chunks need {n} events, the table has {len(wire)}")
    wire = wire.iloc[:n]
    chunk = np.arange(n) // CHUNK_RECORDS
    rng = np.random.default_rng([seed, 1])
    resend = (rng.random(n) < REDELIVER_FRAC) & (chunk < n_chunks - 1)
    lag = rng.integers(1, MAX_REDELIVERY_LAG + 1, n)
    arrivals = pd.concat(
        [
            pd.DataFrame({"event_id": wire["event_id"], "chunk": chunk, "redelivered": False,
                          "record_json": wire["record_json"]}),
            pd.DataFrame({"event_id": wire["event_id"][resend],
                          "chunk": np.minimum(chunk + lag, n_chunks - 1)[resend],
                          "redelivered": True, "record_json": wire["record_json"][resend]}),
        ],
        ignore_index=True,
    )
    src = os.path.join(out_dir, "chunks")
    os.makedirs(src, exist_ok=True)
    base = time.time() - n_chunks - 10
    for i, part in arrivals.groupby("chunk", sort=True):
        path = os.path.join(src, f"chunk-{i:05d}.parquet")
        pq.write_table(pa.table({"record_json": part["record_json"].tolist()}), path)
        # the file source replays in modification-time order
        os.utime(path, (base + i, base + i))
    pq.write_table(
        pa.Table.from_pandas(arrivals.drop(columns="record_json"), preserve_index=False),
        os.path.join(out_dir, "manifest.parquet"),
    )
    return src


def _progress_row(p) -> dict:
    """Flatten one StreamingQueryProgress into plain values."""
    obs = {}
    for name, row in (p.observedMetrics or {}).items():
        obs.update({f"{name}.{k}": int(v) for k, v in row.asDict().items()})
    return {
        "batch_id": p.batchId,
        "start": _epoch_s(p.timestamp),
        "num_input_rows": p.numInputRows,
        "duration_ms": dict(p.durationMs),
        "state": [
            (s.numRowsTotal, s.memoryUsedBytes, s.commitTimeMs) for s in p.stateOperators
        ],
        "observed": obs,
    }


def _epoch_s(iso: str) -> float:
    return pd.Timestamp(iso).timestamp()


def make_listener(sink: list[dict]):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        """Collects every micro-batch's progress (durationMs, state
        operators, observed metrics)."""

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(_progress_row(event.progress))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


def run_drain(spark, src: str, work_dir: str, tracer, fault: str | None = None) -> Drain:
    """Drain every staged chunk with availableNow, one chunk per trigger."""
    from pyspark.sql import functions as F

    from dynamodb_stream_processor_2_0_spark.sources.dynamodb_stream import (
        decode_records,
        parse_new_image,
    )
    from dynamodb_stream_processor_2_0_spark.streaming import sinks
    from dynamodb_stream_processor_2_0_spark.streaming.delivery_state import (
        apply_delivery_state,
    )

    # parse_new_image's documented pairing: one from_json per record
    spark.conf.set("spark.sql.optimizer.enableJsonExpressionOptimization", "false")
    n_chunks = len(glob.glob(os.path.join(src, "chunk-*.parquet")))
    out_dir = os.path.join(work_dir, "envelopes")
    raw = (
        spark.readStream.schema("record_json string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .observe("wire", F.count(F.lit(1)).alias("records_in"))
    )
    typed = parse_new_image(decode_records(raw)).select(
        "record_id",
        F.col("guest_id").cast("long").alias("user_id"),
        F.col("event_name").alias("event_type"),
        F.col("event_id_s").cast("long").alias("event_id"),
        F.col("processed_at").cast("timestamp").alias("ts"),
    ).observe("parsed", F.count(F.lit(1)).alias("records_parsed"))
    deduped = typed.dropDuplicates(["record_id"])
    out = sinks.observed(apply_delivery_state(deduped))
    write = sinks.write_envelopes(out_dir)
    sink_s: list[float] = []

    def body(batch_df, epoch_id):
        # foreachBatch runs on a stream thread: name the parent span
        with tracer.span("streaming.sinks.write_envelopes", parent="cdc.drain"):
            t0 = time.perf_counter()
            write(batch_df.filter(F.col("action") == "email_triggered"), epoch_id)
            sink_s.append(time.perf_counter() - t0)

    progress: list[dict] = []
    listener = make_listener(progress)
    spark.streams.addListener(listener)
    try:
        with tracer.span("cdc.drain"):
            t0 = time.perf_counter()
            q = (
                out.writeStream.foreachBatch(body)
                .option("checkpointLocation", os.path.join(work_dir, "checkpoint"))
                .trigger(availableNow=True)
                .start()
            )
            finished = q.awaitTermination(170)
            wall = time.perf_counter() - t0
            if not finished:
                q.stop()
                raise TimeoutError("cdc drain did not finish within 170 s")
        # progress events are delivered asynchronously after termination
        deadline = time.time() + 10
        while len(progress) < n_chunks and time.time() < deadline:
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(listener)
    if fault == "drop_envelope":
        _drop_one_envelope(out_dir)
    progress.sort(key=lambda p: p["batch_id"])
    return Drain(
        wall_s=wall,
        progress=progress,
        sink_s=sink_s,
    )


def _drop_one_envelope(out_dir: str) -> None:
    """Fault injection for the benchmark's own tests: lose one envelope."""
    for path in sorted(glob.glob(os.path.join(out_dir, "epoch=*", "*.json"))):
        with open(path) as fh:
            lines = fh.readlines()
        if lines:
            with open(path, "w") as fh:
                fh.writelines(lines[1:])
            return


_EXPECTED_SQL = """
WITH e AS (
    SELECT event_id, user_id,
           CASE event_type WHEN 'purchase' THEN 'INSERT'
                           WHEN 'error' THEN 'REMOVE' ELSE 'MODIFY' END AS change,
           date_trunc('millisecond', ts) AS ts_ms
    FROM read_parquet('{data}/events.parquet')
), a AS (
    SELECT m.chunk, m.redelivered, e.*
    FROM read_parquet('{work}/manifest.parquet') m JOIN e USING (event_id)
), w AS (
    SELECT chunk, event_id, user_id, change FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, change ORDER BY chunk, ts_ms, event_id) AS rn
        FROM a WHERE NOT redelivered AND change <> 'REMOVE'
    ) WHERE rn = 1
)
SELECT c.chunk,
       count(*) AS records_in,
       count(*) FILTER (WHERE change <> 'REMOVE') AS records_parsed,
       count(*) FILTER (WHERE change <> 'REMOVE' AND redelivered) AS dedup_dropped,
       (SELECT count(*) FROM w WHERE w.chunk = c.chunk) AS triggered,
       (SELECT list(event_id ORDER BY event_id) FROM w WHERE w.chunk = c.chunk) AS winners
FROM a c GROUP BY c.chunk ORDER BY c.chunk
"""


def check_drain(drain: Drain, data_dir: str, work_dir: str) -> tuple[int, list[str]]:
    """Compare each trigger with its DuckDB-computed expectation.

    Returns (failed triggers, mismatch messages). A trigger fails when
    its observed counters or the envelopes that landed for its epoch
    differ from the expectation; a chunk that never ran fails too."""
    con = duckdb.connect()
    try:
        exp = con.execute(_EXPECTED_SQL.format(data=data_dir, work=work_dir)).df()
        files = glob.glob(os.path.join(work_dir, "envelopes", "epoch=*", "*.json"))
        landed = con.execute(
            "SELECT CAST(regexp_extract(filename, 'epoch=([0-9]+)', 1) AS BIGINT) AS epoch, "
            "CAST(json_extract_string(message_body, '$.payload.event_id') AS BIGINT) AS event_id, "
            "dedup_id FROM read_json(?, columns={'dedup_id': 'VARCHAR', "
            "'message_body': 'VARCHAR'}, filename=true, format='newline_delimited')",
            [files],
        ).df() if files else pd.DataFrame(columns=["epoch", "event_id", "dedup_id"])
    finally:
        con.close()
    by_batch = {p["batch_id"]: p for p in drain.progress}
    failed, msgs = 0, []
    for row in exp.itertuples():
        p = by_batch.get(row.chunk)
        if p is None:
            failed += 1
            msgs.append(f"chunk {row.chunk}: no trigger ran")
            continue
        o = p["observed"]
        processed = row.records_parsed - row.dedup_dropped
        got_winners = sorted(landed.loc[landed.epoch == row.chunk, "event_id"].tolist())
        want_winners = sorted(int(x) for x in row.winners) if row.triggered else []
        checks = {
            "records_in": (o.get("wire.records_in"), row.records_in),
            "records_parsed": (o.get("parsed.records_parsed"), row.records_parsed),
            "records_processed": (o.get("metrics.records_processed"), processed),
            "emails_triggered": (o.get("metrics.emails_triggered"), row.triggered),
            "duplicates_prevented": (
                o.get("metrics.duplicates_prevented"), processed - row.triggered),
            "processing_errors": (o.get("metrics.processing_errors"), 0),
            "envelopes": (got_winners, want_winners),
        }
        bad = [k for k, (got, want) in checks.items() if got != want]
        if bad:
            failed += 1
            msgs.append(f"chunk {row.chunk}: mismatch in {', '.join(bad)}")
    # whole-stream invariants: one envelope per key, counters add up
    dup_keys = int((landed.groupby("dedup_id").size() > 1).sum()) if len(landed) else 0
    if dup_keys or len(landed) != int(exp.triggered.sum()):
        msgs.append(f"stream: {len(landed)} envelopes, {dup_keys} keys with >1")
        failed = max(failed, 1)
    for p in drain.progress:
        o = p["observed"]
        parts = sum(o.get(f"metrics.{k}", 0) for k in (
            "emails_triggered", "duplicates_prevented", "processing_errors"))
        if parts != o.get("metrics.records_processed", -1):
            msgs.append(f"batch {p['batch_id']}: observed counters do not add up")
            failed = max(failed, 1)
    return failed, msgs


def tail_percentile(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, int]:
    """The highest whole percentile (nearest rank) that still has at
    least ``beyond`` samples above it; falls back to the maximum when
    there are too few samples. Returns (value, percentile)."""
    xs = sorted(values)
    n = len(xs)
    for pct in range(99, 0, -1):
        rank = -(-pct * n // 100)  # ceil
        if n - rank >= beyond:
            return xs[rank - 1], pct
    return xs[-1], 100


def drain_metrics(drain: Drain, warmup: int) -> dict:
    """End-to-end trigger metrics of one drain, over the triggers after
    the first ``warmup`` ones (seconds; records/s over the same span)."""
    timed = [p for p in drain.progress if p["batch_id"] >= warmup]
    trig = [p["duration_ms"].get("triggerExecution", 0) / 1000 for p in timed]
    wall = timed[-1]["start"] + trig[-1] - timed[0]["start"]
    tail, pct = tail_percentile(trig)
    return {
        "records_per_s": sum(p["num_input_rows"] for p in timed) / wall,
        "trigger_p50_s": statistics.median(trig),
        "trigger_tail_s": tail,
        "tail_percentile": pct,
        "triggers": len(trig),
    }


def layer_metrics(drain: Drain, landed_envelopes: int) -> dict:
    """Per-layer attribution from the listener and the sink timer."""
    prog = drain.progress
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    out = {
        f"microbatch.{k}_ms": med([p["duration_ms"].get(k, 0) for p in prog])
        for k in DURATION_KEYS
    }
    out["microbatch.fixed_ms"] = med([
        p["duration_ms"].get("triggerExecution", 0) - p["duration_ms"].get("addBatch", 0)
        for p in prog
    ])
    last = prog[-1]["state"] if prog else []
    out["state.rows_total"] = sum(s[0] for s in last)
    out["state.memory_bytes"] = sum(s[1] for s in last)
    out["state.commit_ms"] = med([sum(s[2] for s in p["state"]) for p in prog])
    tot = lambda k: sum(p["observed"].get(k, 0) for p in prog)  # noqa: E731
    records_in = tot("wire.records_in")
    out["streaming.sinks.write_s"] = med(drain.sink_s)
    out["streaming.sinks.records_in"] = records_in
    out["streaming.sinks.dedup_dropped"] = tot("parsed.records_parsed") - tot(
        "metrics.records_processed")
    out["streaming.sinks.triggered"] = tot("metrics.emails_triggered")
    out["streaming.sinks.duplicates"] = tot("metrics.duplicates_prevented")
    out["streaming.sinks.envelopes"] = landed_envelopes
    out["streaming.sinks.useful_ratio"] = landed_envelopes / max(records_in, 1)
    return out


def count_envelopes(work_dir: str) -> int:
    n = 0
    for path in glob.glob(os.path.join(work_dir, "envelopes", "epoch=*", "*.json")):
        with open(path) as fh:
            n += sum(1 for line in fh if line.strip())
    return n


def isolated_layers(spark, src: str, work_dir: str, reps: int = 3) -> dict:
    """Single-layer passes over one middle chunk: the wire decode+parse
    as a batch frame; the delivery function called directly in this
    Python process; and ``apply_delivery_state`` over that one chunk.
    Spark refuses applyInPandasWithState on a batch frame, so the last
    is a one-trigger stream to a ``noop`` sink, timed by its addBatch.
    Medians of ``reps``."""
    from pyspark.sql import functions as F

    from dynamodb_stream_processor_2_0_spark.sources.dynamodb_stream import (
        decode_records,
        parse_new_image,
    )
    from dynamodb_stream_processor_2_0_spark.streaming.delivery_state import (
        apply_delivery_state,
        make_delivery_fn,
    )

    files = sorted(glob.glob(os.path.join(src, "chunk-*.parquet")))
    one = os.path.join(work_dir, "one_chunk")
    os.makedirs(one, exist_ok=True)
    shutil.copy(files[len(files) // 2], one)

    def typed(df):
        return parse_new_image(decode_records(df)).select(
            F.col("guest_id").cast("long").alias("user_id"),
            F.col("event_name").alias("event_type"),
            F.col("event_id_s").cast("long").alias("event_id"),
            F.col("processed_at").cast("timestamp").alias("ts"),
        )

    def timed(fn) -> float:
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts)

    decode_s = timed(
        lambda: typed(spark.read.parquet(one)).write.mode("overwrite").format("noop").save())

    def one_trigger(i: int) -> float:
        progress: list[dict] = []
        listener = make_listener(progress)
        spark.streams.addListener(listener)
        try:
            stream = spark.readStream.schema("record_json string").parquet(one)
            q = (
                apply_delivery_state(typed(stream)).writeStream.format("noop")
                .option("checkpointLocation", os.path.join(work_dir, f"one_ckpt{i}"))
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)
            deadline = time.time() + 10
            while not progress and time.time() < deadline:
                time.sleep(0.05)
        finally:
            spark.streams.removeListener(listener)
        return progress[0]["duration_ms"]["addBatch"] / 1000

    batch_s = statistics.median(one_trigger(i) for i in range(reps))
    groups = [g for _, g in typed(spark.read.parquet(one)).toPandas().groupby(
        ["user_id", "event_type"])]

    def call_fn():
        fn = make_delivery_fn()
        for g in groups:
            for _ in fn((g.user_id.iat[0], g.event_type.iat[0]), iter([g]), _LocalState()):
                pass

    fn_s = timed(call_fn)
    return {
        "sources.dynamodb_stream.decode_parse_s": decode_s,
        "streaming.delivery_state.batch_s": batch_s,
        "streaming.delivery_state.fn_ms_per_group": 1000 * fn_s / max(len(groups), 1),
    }


class _LocalState:
    """The three GroupState members the delivery function touches."""

    exists = False
    get = None

    def update(self, value) -> None:
        self.get, self.exists = value, True
