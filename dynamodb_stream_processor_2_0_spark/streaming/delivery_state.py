"""Per-key delivery state machine (reference D4/S5/S6/S7,
index.js:324-344, 448-522) as a Structured Streaming stateful operator.

The reference implements exactly-once delivery with a conditional-write
CAS against the table: claim ``processing`` only if the current status
allows it, ``ConditionalCheckFailedException`` -> duplicate_prevented,
success -> sink send -> ``delivered`` (or compensating revert to
``pending`` on sink failure). Spark's stateful model makes the race
disappear: a key is owned by exactly one task per micro-batch, so the
CAS becomes a pure state-machine guard inside
``applyInPandasWithState`` — same observable semantics, no distributed
lock.

States: (none) -> delivered, with every later attempt for the key
tagged ``duplicate_prevented`` — the reference's pending -> processing
-> delivered collapses within a micro-batch because claim and delivery
are a single ownership scope; the ``sink_ok`` hook keeps S7's
compensating transition expressible (failure -> stays pending, retried
next batch).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DISPOSITION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("action", T.StringType()),
        T.StructField("status_after", T.StringType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("delivery_status", T.StringType()),
        T.StructField("delivered_event_id", T.LongType()),
        T.StructField("attempts", T.LongType()),
    ]
)


def make_delivery_fn(
    sink_ok: Callable[[int], bool] | None = None,
) -> Callable[[Any, Iterator[pd.DataFrame], GroupState], Iterator[pd.DataFrame]]:
    """Build the stateful function. ``sink_ok(event_id)`` models the S3
    queue send; returning False triggers the S7 compensating path
    (status stays pending, nothing marked delivered)."""

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user_id, event_type = key
        if state.exists:
            status, delivered_id, attempts = state.get
        else:
            status, delivered_id, attempts = "pending", None, 0

        out: list[dict] = []
        # A key's rows in one micro-batch may arrive as multiple Arrow
        # chunks (> arrow.maxRecordsPerBatch rows per group), and chunk
        # order is not ts-ordered after the shuffle — materialize the
        # whole group before the single deterministic sort, or the
        # delivered winner is no longer the global (ts, event_id)
        # minimum (the reference processes records in stream order,
        # index.js:53). Group state is bounded per (user_id, event_type)
        # key, so this buffers one key's batch slice, not the stream.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            whole = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            whole = whole.sort_values(["ts", "event_id"])
            for event_id in whole["event_id"]:
                attempts += 1
                event_id = int(event_id)
                if status == "delivered":
                    # D4 claim fails: ConditionalCheckFailed analog
                    out.append(
                        dict(action="duplicate_prevented", event_id=event_id)
                    )
                    continue
                # claim succeeds (single writer per key): -> processing
                if sink_ok is None or sink_ok(event_id):
                    status, delivered_id = "delivered", event_id
                    out.append(dict(action="email_triggered", event_id=event_id))
                else:
                    # S7 compensating revert: back to pending
                    status = "pending"
                    out.append(dict(action="sink_failed", event_id=event_id))

        state.update((status, delivered_id, attempts))
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out),
                "event_type": [event_type] * len(out),
                "event_id": [r["event_id"] for r in out],
                "action": [r["action"] for r in out],
                "status_after": [status] * len(out),
            }
        )

    return fn


def apply_delivery_state(
    events: DataFrame,
    sink_ok: Callable[[int], bool] | None = None,
) -> DataFrame:
    """Wire the state machine over a streaming events frame keyed by
    (user_id, event_type). Streaming only: Spark rejects
    ``applyInPandasWithState`` in a batch query."""
    return (
        events.select("user_id", "event_type", "event_id", "ts")
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            make_delivery_fn(sink_ok),
            outputStructType=DISPOSITION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
