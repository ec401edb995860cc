"""Custom stateful streaming operators (applyInPandasWithState).

For semantics Spark's built-in streaming operators can't express —
running per-key aggregates emitted every micro-batch, custom session
logic, CDC state machines — the engine uses Arrow-batched
``applyInPandasWithState``: state lives in Spark's state store
(checkpointed, partitioned by key), the kernel sees pandas DataFrames,
and watermark-based timeouts bound state lifetime.

This is the "(b) Pandas-UDF-backed" tier of the custom-operator
policy (SURVEY §7): used only where composition of built-ins genuinely
cannot express the semantics.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

RUNNING_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = "n BIGINT, total DOUBLE"


def _running_totals_kernel(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Accumulate (count, sum) per key across micro-batches; emit the
    running value once per batch the key appears in."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_totals(changes: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Per-key running (count, sum(value)) over a change stream —
    state checkpointed, emitted each micro-batch the key is touched.

    The streaming generalization of the reference's driver-side
    accumulation (its poll loop counts records in Python,
    spark_batch.py:331-377) — here the state is partitioned across
    executors and survives restarts.
    """
    return changes.groupBy(key_col).applyInPandasWithState(
        _running_totals_kernel,
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SEEN_DEDUP_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("first_seen_batch", T.LongType()),
    ]
)

_SEEN_STATE_SCHEMA = "ids ARRAY<BIGINT>, batch BIGINT"


def _seen_dedup_kernel(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Emit each (key, event_id) at most once across the stream; the
    per-key seen-set lives in the state store and is EVICTED by
    processing-time timeout, so state size is bounded by the TTL
    window, not by stream lifetime."""
    if state.hasTimedOut:
        # TTL expiry: drop this key's seen-set entirely.  A duplicate
        # arriving after the TTL re-emits — the documented trade
        # (bounded state) shared by every TTL dedup.
        state.remove()
        yield pd.DataFrame(
            {"event_id": [], "user_id": [], "first_seen_batch": []}
        ).astype({"event_id": "int64", "user_id": "int64", "first_seen_batch": "int64"})
        return
    seen, batch = state.get if state.exists else ([], -1)
    seen = set(seen)
    batch += 1
    fresh = []
    for pdf in pdfs:
        for eid in pdf["event_id"]:
            e = int(eid)
            if e not in seen:
                seen.add(e)
                fresh.append(e)
    state.update((sorted(seen), batch))
    state.setTimeoutDuration(60 * 60 * 1000)  # 1 h TTL
    yield pd.DataFrame(
        {
            "event_id": fresh,
            "user_id": [key[0]] * len(fresh),
            "first_seen_batch": [batch] * len(fresh),
        }
    )


def seen_dedup(changes: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Exactly-once-per-id emission over a change stream with
    TTL-bounded state: the streaming dedup primitive for at-least-once
    sources (Kafka redeliveries, replayed batches).

    vs ``dropDuplicates`` + watermark: this variant exposes the
    first-seen batch, supports per-key eviction policy, and is the
    template for richer CDC state machines (the state tuple can carry
    arbitrary per-key structure).

    Termination caveat: pending processing-time TTL timers keep even
    an ``availableNow`` query alive — Spark schedules no-data batches
    until every timer has fired, so a finite replay never terminates
    on its own inside the TTL window, and ``q.processAllAvailable()``
    never returns either (it waits for the timer batches too).  For a
    bounded replay, poll the sink for the expected output and then
    ``q.stop()``, or set
    ``spark.sql.streaming.noDataMicroBatches.enabled=false`` on the
    session before starting the query.  In production the query is
    continuous, so the timers are exactly what's wanted."""
    return changes.groupBy(key_col).applyInPandasWithState(
        _seen_dedup_kernel,
        outputStructType=SEEN_DEDUP_SCHEMA,
        stateStructType=_SEEN_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


# ----------------------------------------------------- session totals

SESSION_SCHEMA = (
    "user_id BIGINT, session_start_us BIGINT, session_end_us BIGINT, "
    "n_events BIGINT, value_cents BIGINT"
)
_SESSION_STATE_SCHEMA = "start_us BIGINT, last_us BIGINT, n BIGINT, sum_c BIGINT"

_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min inactivity closes a session


def _session_kernel(key, pdfs, state):
    """Event-time sessionization: buffer the open session per user in
    state; split on in-batch gaps immediately; close the open session
    via an EVENT-TIME timer when the watermark passes last + gap
    (no processing-time timers, so bounded replays terminate — the
    round-2 hazard class).  Emits one row per CLOSED session."""
    import pandas as pd

    user_id = key[0]
    if state.hasTimedOut:
        start_us, last_us, n, sum_c = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start_us": [start_us],
                "session_end_us": [last_us],
                "n_events": [n],
                "value_cents": [sum_c],
            }
        )
        return

    rows = pd.concat(list(pdfs), ignore_index=True)
    rows["ts_us"] = rows["ts"].astype("int64") // 1000  # ns -> µs
    rows = rows.sort_values(["ts_us", "event_id"])
    cents = (rows["value"] * 100).round().astype("int64")

    if state.exists:
        start_us, last_us, n, sum_c = state.get
    else:
        start_us = None

    closed = {k: [] for k in ("s", "e", "n", "c")}
    for ts_us, c in zip(rows["ts_us"], cents):
        ts_us, c = int(ts_us), int(c)
        if start_us is None:
            start_us, last_us, n, sum_c = ts_us, ts_us, 1, c
        elif ts_us - last_us > _SESSION_GAP_US:
            closed["s"].append(start_us)
            closed["e"].append(last_us)
            closed["n"].append(n)
            closed["c"].append(sum_c)
            start_us, last_us, n, sum_c = ts_us, ts_us, 1, c
        else:
            last_us, n, sum_c = ts_us, n + 1, sum_c + c
    state.update((start_us, last_us, n, sum_c))
    # close the tail when the WATERMARK (not wall clock) passes the gap
    state.setTimeoutTimestamp(last_us // 1000 + _SESSION_GAP_US // 1000)
    if closed["s"]:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(closed["s"]),
                "session_start_us": closed["s"],
                "session_end_us": closed["e"],
                "n_events": closed["n"],
                "value_cents": closed["c"],
            }
        )


def session_totals(changes: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Custom stateful sessionization (the applyInPandasWithState
    member of the window family, beside the declarative
    ``session_window_agg``): per-key open-session state, in-batch gap
    splitting, and an EVENT-TIME timeout that closes idle sessions as
    the watermark advances.  Emits closed sessions only — the open
    tail stays in state until the watermark proves no late event can
    extend it, which is exactly the semantics a billing/engagement
    pipeline needs.  Requires ``withWatermark`` upstream (event-time
    timers are driven by it)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return changes.groupBy(key_col).applyInPandasWithState(
        _session_kernel,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
